"""LLM-data-pipeline extension queries (dedup / similarity / text /
multimodal / streaming-equivalent) over the driver testdata, with
DuckDB oracle twins where the semantics are SQL-expressible.

Approximate/sketch operators get REAL differential oracles, each by a
different trick: MinHash-LSH emits exact-Jaccard-verified pairs (same
oracle as the exact baseline), SimHash and winnowing are registered
with the engine-portable md5-derived 60-bit hash (the DuckDB twin
recomputes the same sketches bit-for-bit), and the ANN paths have
full-probe variants (pruning disabled → must equal exact top-k) plus
recall-floor gates at the production probe settings. pytest pins the
production (xxhash64) variants against exact baselines (see
tests/test_dedup.py, tests/test_similarity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_quality_checks_in_relational_database_spark.operators import dedup as dd
from data_quality_checks_in_relational_database_spark.operators import multimodal as mm
from data_quality_checks_in_relational_database_spark.operators import similarity as sim
from data_quality_checks_in_relational_database_spark.operators import text as tx
from data_quality_checks_in_relational_database_spark.session import load_tables
from data_quality_checks_in_relational_database_spark.streaming.freshness import windowed_volume

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.text_quality_report(docs).orderBy("lang")


_TOKS = "CASE WHEN length(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(lower(text)), '\\s+') END"

ORACLE_TEXT_QUALITY = f"""
WITH stats AS (
    SELECT lang,
           COALESCE(length(text), 0) AS n_chars,
           len(list_filter({_TOKS}, t -> t != '')) AS n_tokens,
           COALESCE(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')), 0) AS n_punct,
           len(list_filter({_TOKS}, t -> t IN ('the','a','of','and','to','in','is','it'))) AS n_stopwords
    FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(SUM(n_tokens) AS BIGINT) / COUNT(*) AS avg_tokens,
       CAST(SUM(n_punct) AS BIGINT) / CAST(SUM(n_chars) AS BIGINT) AS punct_ratio,
       CAST(SUM(n_stopwords) AS BIGINT) / CAST(SUM(n_tokens) AS BIGINT) AS stopword_ratio
FROM stats GROUP BY lang
"""


def q_lang_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return (
        tx.detect_language(docs)
        .groupBy("lang", "detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _oracle_lang_detect() -> str:
    langs = sorted(tx.LANG_MARKERS)
    score_cols = ",\n           ".join(
        f"len(list_filter({_TOKS}, x -> x IN ({', '.join(repr(w) for w in tx.LANG_MARKERS[lang])}))) AS s_{lang}"
        for lang in langs
    )
    total = " + ".join(f"s_{lang}" for lang in langs)
    branches = "\n            ".join(
        f"WHEN {' AND '.join(f's_{lang} >= s_{other}' for other in langs if other != lang)} THEN '{lang}'"
        for lang in langs
    )
    return f"""
WITH scores AS (
    SELECT lang,
           {score_cols}
    FROM documents
)
SELECT lang,
       CASE WHEN {total} = 0 THEN 'und'
            {branches}
       END AS detected_lang,
       COUNT(*) AS n_docs
FROM scores GROUP BY 1, 2
"""


ORACLE_LANG_DETECT = _oracle_lang_detect()


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.fingerprint(docs)


ORACLE_DOC_FINGERPRINT = f"""
SELECT doc_id,
       md5(array_to_string({_TOKS}, ' ')) AS fingerprint,
       CAST(len(list_filter({_TOKS}, t -> t != '')) AS BIGINT) AS n_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source LLM token budgeting: whitespace + BPE-ish token
    totals (the two counts diverge on punctuated text)."""
    from data_quality_checks_in_relational_database_spark.functions.scalars import token_count

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    per_doc = docs.select(
        "source",
        token_count(F.col("text")).alias("ws_tokens"),
        tx.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
    )


ORACLE_TOKEN_BUDGET = f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS total_bpe_tokens
FROM documents GROUP BY source
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.dedup_exact_report(docs)


ORACLE_DEDUP_EXACT = f"""
SELECT md5(array_to_string({_TOKS}, ' ')) AS fingerprint,
       COUNT(*) AS group_size,
       MIN(doc_id) AS representative_id
FROM documents GROUP BY 1
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.ngram_jaccard_pairs(docs, threshold=0.5)


ORACLE_NGRAM_JACCARD = """
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
    FROM documents WHERE length(trim(text)) > 0
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
    FROM toks WHERE len(t) >= 3
)
SELECT doc_id_a, doc_id_b, jaccard FROM (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           len(list_intersect(a.s, b.s)) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
) WHERE jaccard >= 0.5
"""


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.minhash_lsh_pairs(docs, threshold=0.5)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered with the engine-portable md5-derived 60-bit hash so
    the ENTIRE sketch pipeline (per-token hashing, ±1 bit votes, band
    blocking, Hamming filter) is hash-checked against a DuckDB oracle
    that recomputes the same sketches bit-for-bit; the xxhash64 64-bit
    default stays the production path (pytest-pinned)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.simhash_pairs(docs, max_hamming=3, hash_name="md5_60")


def _oracle_simhash_pairs(bits: int = 60, max_hamming: int = 3) -> str:
    """DuckDB twin of the md5_60 SimHash: identical per-token hashes
    (md5 low-60), identical vote/threshold rule, then brute-force
    Hamming over all pairs — which equals the Spark side's banded
    blocking output because 4-band pigeonhole blocking has perfect
    recall at Hamming ≤ 3."""
    terms = "\n             + ".join(
        f"CASE WHEN list_sum(list_transform(h, v -> CAST((v >> {i}) & 1 AS INT) * 2 - 1)) > 0"
        f" THEN {1 << i} ELSE 0 END"
        for i in range(bits)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
hs AS (
    SELECT doc_id,
           list_transform(t, x -> CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS h
    FROM toks
),
sk AS (
    SELECT doc_id,
           ({terms}) AS sh
    FROM hs WHERE len(h) > 0
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM sk a JOIN sk b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {max_hamming}
"""


ORACLE_SIMHASH_PAIRS = _oracle_simhash_pairs()


def q_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered as one scalar row per selected hash (the shape a
    downstream fingerprint-index join consumes; array columns also
    break the driver's canonicalizer), with the engine-portable md5
    hash so selection is value-checked end-to-end by the DuckDB
    oracle. The xxhash64 array form stays available via
    ``text.winnowing_fingerprint`` (pytest)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = tx.winnowing_fingerprint(docs, hash_name="md5_60")
    # explode_outer, NOT explode: for a plain explode the optimizer's
    # InferFiltersFromGenerate adds `size(fingerprints) > 0 AND
    # isnotnull(fingerprints)` and pushes it below the projections with
    # the ENTIRE nested winnowing expression inlined — the whole
    # hash-array transform then re-evaluates per window slice inside an
    # interpreted Filter (measured 230 s vs 0.6 s at sf0.1). The outer
    # explode emits a NULL row for empty arrays instead, and the
    # post-filter on the GENERATED scalar cannot be pushed below the
    # Generate, so the sketch is computed exactly once per document.
    return fp.select(
        "doc_id", F.explode_outer("fingerprints").alias("fingerprint")
    ).filter(F.col("fingerprint").isNotNull())


# k=5 → 5-token grams at positions 1..len(t)-4; window=4 → minima over
# h[i..i+3]; DuckDB range() is end-exclusive, list slices are
# end-INCLUSIVE — mirrors text.winnowing_fingerprint's _index_range/
# slice arithmetic exactly.
ORACLE_WINNOWING = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
hs AS (
    SELECT doc_id,
           [CAST('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15) AS BIGINT)
            for i in range(1, len(t) - 3)] AS h
    FROM toks
),
fp AS (
    SELECT doc_id,
           list_sort(list_distinct([list_min(h[i:i+3]) for i in range(1, len(h) - 2)])) AS f
    FROM hs
)
SELECT doc_id, UNNEST(f) AS fingerprint FROM fp
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full fuzzy-dedup pipeline: MinHash-LSH verified pairs →
    connected components → cluster report. Pairwise dedup alone
    over-removes (A~B, B~C must keep exactly one of {A,B,C}); this is
    the stage that resolves that. Oracle: recursive-CTE closure over
    the exact-Jaccard pair oracle (pair recall 1.0 pinned in pytest)."""
    from data_quality_checks_in_relational_database_spark.operators.cluster import dedup_clusters

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.5)
    return dedup_clusters(pairs)


# The closure oracles below materialize their pair and edge CTEs: inlined,
# DuckDB re-evaluates the all-pairs Jaccard inside every iteration of the
# recursive reach join (cluster_safe_split: 166 s → 8 s single-threaded at
# sf0.001, identical rows).
ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({ORACLE_NGRAM_JACCARD}),
edges AS MATERIALIZED (
    SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
    UNION ALL
    SELECT doc_id_b, doc_id_a FROM pairs
),
reach(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
sized AS (
    SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT c.node AS doc_id, c.cluster_id, s.cluster_size,
       c.node = c.cluster_id AS is_representative
FROM comp c JOIN sized s USING (cluster_id)
"""


def q_dedup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2 histogram of near-dup CLUSTER sizes — the release-gate shape
    over duplicate families: many 2-doc clusters is normal crawl noise,
    one giant cluster is a template/boilerplate flood that pairwise
    stats hide. Per size bucket: cluster count, docs held, max size,
    and ``dup_excess`` = Σ(size − 1) — exactly how many docs dedup will
    remove from that bucket. Same component engine as
    ``dedup_clusters``; the histogram is one extra bounded
    aggregation."""
    from data_quality_checks_in_relational_database_spark.operators.cluster import (
        dedup_clusters,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    rep = dedup_clusters(dd.minhash_lsh_pairs(docs, threshold=0.5))
    sizes = rep.groupBy("cluster_id").agg(F.max("cluster_size").alias("sz"))
    bucket = F.floor(F.log2(F.col("sz"))).cast("long")
    return sizes.groupBy(bucket.alias("size_bucket_log2")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_docs"),
        F.max("sz").cast("long").alias("max_size"),
        F.sum(F.col("sz") - 1).cast("long").alias("dup_excess"),
    )


ORACLE_DEDUP_CLUSTER_HISTOGRAM = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({ORACLE_NGRAM_JACCARD}),
edges AS MATERIALIZED (
    SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
    UNION ALL
    SELECT doc_id_b, doc_id_a FROM pairs
),
reach(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
sized AS (SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY cluster_id)
SELECT CAST(FLOOR(LOG2(sz)) AS BIGINT) AS size_bucket_log2,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(MAX(sz) AS BIGINT) AS max_size,
       CAST(SUM(sz - 1) AS BIGINT) AS dup_excess
FROM sized GROUP BY 1
"""


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.top_terms_tfidf(docs, group_col="lang", top_n=5)


ORACLE_TOP_TERMS = f"""
WITH toks AS (
    SELECT doc_id, lang, t.term
    FROM documents, UNNEST(list_filter({_TOKS}, x -> x != '')) AS t(term)
),
df_term AS (SELECT term, COUNT(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY term),
tf_grp AS (SELECT lang, term, COUNT(*) AS total_tf FROM toks GROUP BY lang, term),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
    SELECT g.lang, g.term, CAST(g.total_tf AS BIGINT) AS total_tf,
           CAST(d.doc_freq AS BIGINT) AS doc_freq,
           ROUND(g.total_tf * LN(n.n_docs / d.doc_freq), 6) AS tfidf
    FROM tf_grp g JOIN df_term d USING (term) CROSS JOIN n
)
SELECT lang, term, total_tf, doc_freq, tfidf, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY lang ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rank
    FROM scored
) WHERE rank <= 5
"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.repetition_report(docs)


ORACLE_REPETITION = f"""
WITH toks AS (
    SELECT lang, {_TOKS} AS t FROM documents
),
grams AS (
    SELECT lang,
           CASE WHEN len(t) >= 3 THEN len(t) - 2 ELSE 0 END AS n_grams,
           CASE WHEN len(t) >= 3 THEN len(list_distinct(
               [array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]
           )) ELSE 0 END AS n_distinct
    FROM toks
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       CAST(SUM(n_distinct) AS BIGINT) AS total_distinct,
       ROUND(1.0 - CAST(SUM(n_distinct) AS BIGINT) / CAST(SUM(n_grams) AS BIGINT), 6)
           AS dup_ratio
FROM grams GROUP BY lang
"""


def q_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup (signature-blocked equi-join,
    never all-pairs); must emit exactly the brute-force pairs whenever
    blocking recall is 1.0 (planted-pair recall pinned in pytest)."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    pairs = sim.hyperplane_lsh_neardup(emb, threshold=0.95)
    return pairs.select("vec_id_a", "vec_id_b", F.round("cosine", 6).alias("cosine"))


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-overlap contamination report: treat source ``src0`` as the
    held-out benchmark set and flag 5-gram overlap from every other
    source (the GPT-3 recipe uses 13-grams on web text; 5 fits this
    short-doc corpus). Inverted-index semi-join against the broadcast
    eval-gram set — never all-pairs."""
    from data_quality_checks_in_relational_database_spark.operators.decontam import (
        contamination_report,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    corpus = docs.filter(F.col("source") != "src0")
    eval_set = docs.filter(F.col("source") == "src0")
    return contamination_report(corpus, eval_set, n=5)


ORACLE_DECONTAM = f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
sh AS (
    SELECT doc_id, source,
           list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)]) AS s
    FROM toks
),
ev AS (SELECT DISTINCT UNNEST(s) AS gram FROM sh WHERE source = 'src0'),
corp AS (
    SELECT doc_id, len(s) AS n_grams, UNNEST(s) AS gram
    FROM sh WHERE source <> 'src0'
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(COUNT(*) AS BIGINT) AS n_overlap_grams
FROM corp JOIN ev USING (gram)
GROUP BY doc_id, n_grams
"""


# ---------------------------------------------------------------------------
# PII / policy pattern scan
# ---------------------------------------------------------------------------

#: Registered scan = the portable PII set plus two corpus-active
#: patterns (this synthetic corpus contains no emails/URLs — the zero
#: totals still differentially verify the scan plumbing, while the
#: active patterns verify non-trivial counts).
_SCAN_PATTERNS: dict[str, str] = {
    **tx.PII_PATTERNS,
    "long_word": "[a-z]{8,}",
    "digits": "[0-9]+",
}


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.pattern_scan(docs, _SCAN_PATTERNS)


# NB: DuckDB single-quoted strings pass backslashes through verbatim
# (no escape processing), so the Java-regex pattern text embeds as-is;
# only single quotes would need doubling (none of these patterns has one).
ORACLE_PII_SCAN = (
    "SELECT source, COUNT(*) AS n_docs,\n"
    + ",\n".join(
        "       CAST(SUM(len(regexp_extract_all(text, '"
        + p
        + "'))) AS BIGINT) AS "
        + name
        + "_hits"
        for name, p in _SCAN_PATTERNS.items()
    )
    + "\nFROM documents GROUP BY source"
)


# ---------------------------------------------------------------------------
# Distribution drift (PSI)
# ---------------------------------------------------------------------------

_PSI_EDGES = [float(x) for x in range(0, 660001, 66000)]  # 10 bins over o_totalprice


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between the orders snapshot and a deterministically shifted
    'next load' (totalprice +10% on keys ≡ 0 mod 7) — per-bin
    contributions; total PSI = SUM(psi_term)."""
    from data_quality_checks_in_relational_database_spark.operators.diff import psi_report

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    current = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1).otherwise(
            F.col("o_totalprice")
        ),
    )
    return psi_report(o, current, "o_totalprice", _PSI_EDGES)


ORACLE_DRIFT_PSI = """
WITH curr AS (
    SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
           ELSE o_totalprice END AS v
    FROM orders
),
bb AS (
    SELECT LEAST(GREATEST(CAST(FLOOR(o_totalprice / 66000) AS INT), 0), 9) AS bin,
           COUNT(*) AS base_n
    FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
),
cb AS (
    SELECT LEAST(GREATEST(CAST(FLOOR(v / 66000) AS INT), 0), 9) AS bin,
           COUNT(*) AS curr_n
    FROM curr WHERE v IS NOT NULL GROUP BY 1
),
bins AS (SELECT UNNEST(RANGE(10)) AS bin),
j AS (
    SELECT bins.bin,
           CAST(COALESCE(bb.base_n, 0) AS BIGINT) AS base_n,
           CAST(COALESCE(cb.curr_n, 0) AS BIGINT) AS curr_n
    FROM bins LEFT JOIN bb USING (bin) LEFT JOIN cb USING (bin)
),
tot AS (SELECT SUM(base_n) AS tb, SUM(curr_n) AS tc FROM j)
SELECT CAST(j.bin AS INT) AS bin, j.base_n, j.curr_n,
       ROUND(j.base_n / tot.tb, 6) AS base_frac,
       ROUND(j.curr_n / tot.tc, 6) AS curr_frac,
       ROUND(CASE WHEN j.base_n > 0 AND j.curr_n > 0 THEN
           (j.curr_n / tot.tc - j.base_n / tot.tb)
           * LN((j.curr_n / tot.tc) / (j.base_n / tot.tb)) END, 6) AS psi_term
FROM j CROSS JOIN tot
"""


# ---------------------------------------------------------------------------
# Streaming twin: first-seen duplicate ledger (batch form)
# ---------------------------------------------------------------------------


def q_events_dup_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming.stateful.dedup_ledger`` (pytest pins
    stream ≡ this on finite input): per-key duplicate ledger over
    events keyed by user_id — the oracle-checked face of the custom
    stateful streaming operator."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_rows"),
        (F.count(F.lit(1)) - 1).alias("dup_rows"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
    )


ORACLE_EVENTS_DUP_LEDGER = """
SELECT user_id, COUNT(*) AS total_rows, COUNT(*) - 1 AS dup_rows,
       CAST(MIN(ts) AS TIMESTAMP) AS first_seen,
       CAST(MAX(ts) AS TIMESTAMP) AS last_seen
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow+numpy block-matmul top-k (the scale path; identical output
    to the HOF baseline, which tests cross-check)."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.cosine_topk_blocked(emb, queries, k=5)


ORACLE_COSINE_TOPK = """
WITH unit AS (
    SELECT vec_id,
           CAST(embedding AS DOUBLE[]) AS v,
           SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cosine
    FROM unit q JOIN unit c ON q.vec_id < 10 AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
    FROM scored
) WHERE rank <= 5
"""


_MATRYOSHKA_PRE = 16  # prefix dims audited (d/4 of the 64-dim corpus)
_MATRYOSHKA_K = 10


def q_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: can this embedding column be served
    at a PREFIX of its dimensions (the MRL deployment move — 4× less
    ANN memory/bandwidth) without changing retrieval? Per query vector:
    the exact top-10 by full-dimension cosine vs by first-16-dims
    cosine — reported as the top-10 OVERLAP plus the cosine drift over
    the full-dim top-10 in exact integer micro-units (Σ and max of
    round(|cos_full − cos_pre|·10⁶); deltas of 6-dp-rounded cosines,
    so the integers are engine-stable). Low overlap / high drift says
    these vectors are NOT matryoshka-trained — truncation would
    silently change retrieval.

    Plan shape: 10 broadcast query rows × corpus scan, per-pair HOF
    dot products (JVM codegen, no Python), two per-query-partitioned
    top-k windows over ≤|corpus| rows — at 100 TB the corpus side
    stays a scan and the audit is one pass.
    """
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    pre = _MATRYOSHKA_PRE
    unit = emb.select(
        "vec_id",
        v.alias("v"),
        F.sqrt(dot(v, v)).alias("nrm"),
        F.sqrt(dot(F.slice(v, 1, pre), F.slice(v, 1, pre))).alias("nrm_pre"),
    ).where((F.col("nrm") > 0) & (F.col("nrm_pre") > 0))
    q = unit.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("nrm_pre").alias("qnp"),
    )
    c = unit.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("nrm_pre").alias("cnp"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cf"),
            F.round(
                dot(F.slice(F.col("qv"), 1, pre), F.slice(F.col("cv"), 1, pre))
                / (F.col("qnp") * F.col("cnp")),
                6,
            ).alias("cp"),
        )
        .localCheckpoint(eager=False)  # referenced by both top-k windows
    )
    from pyspark.sql.window import Window as W

    k = _MATRYOSHKA_K
    wf = W.partitionBy("query_id").orderBy(F.col("cf").desc(), F.col("neighbor_id"))
    wp = W.partitionBy("query_id").orderBy(F.col("cp").desc(), F.col("neighbor_id"))
    top_full = scored.withColumn("rf", F.row_number().over(wf)).where(F.col("rf") <= k)
    top_pre = (
        scored.withColumn("rp", F.row_number().over(wp))
        .where(F.col("rp") <= k)
        .select("query_id", F.col("neighbor_id").alias("pre_id"))
    )
    delta_micro = F.round(F.abs(F.col("cf") - F.col("cp")) * 1000000, 0).cast("long")
    return (
        top_full.join(
            top_pre,
            (top_full["query_id"] == top_pre["query_id"])
            & (top_full["neighbor_id"] == top_pre["pre_id"]),
            "left",
        )
        .select(
            top_full["query_id"].alias("query_id"),
            F.col("pre_id").isNotNull().cast("long").alias("hit"),
            delta_micro.alias("dm"),
        )
        .groupBy("query_id")
        .agg(
            F.sum("hit").cast("long").alias("overlap_at_10"),
            F.sum("dm").cast("long").alias("sum_delta_micro"),
            F.max("dm").cast("long").alias("max_delta_micro"),
        )
    )


ORACLE_MATRYOSHKA_AUDIT = f"""
WITH raw AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
unit AS (
    SELECT vec_id, v,
           SQRT(list_dot_product(v, v)) AS nrm,
           SQRT(list_dot_product(v[1:{_MATRYOSHKA_PRE}],
                                 v[1:{_MATRYOSHKA_PRE}])) AS nrm_pre
    FROM raw
    WHERE SQRT(list_dot_product(v, v)) > 0
      AND SQRT(list_dot_product(v[1:{_MATRYOSHKA_PRE}],
                                v[1:{_MATRYOSHKA_PRE}])) > 0
),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS cf,
           ROUND(list_dot_product(q.v[1:{_MATRYOSHKA_PRE}],
                                  c.v[1:{_MATRYOSHKA_PRE}])
                 / (q.nrm_pre * c.nrm_pre), 6) AS cp
    FROM unit q JOIN unit c ON q.vec_id < 10 AND c.vec_id != q.vec_id
),
tf AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cf DESC, neighbor_id ASC) AS rf
    FROM scored
),
tp AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cp DESC, neighbor_id ASC) AS rp
    FROM scored
),
fin AS (
    SELECT f.query_id,
           CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit,
           CAST(ROUND(ABS(f.cf - f.cp) * 1000000) AS BIGINT) AS dm
    FROM (SELECT * FROM tf WHERE rf <= {_MATRYOSHKA_K}) f
    LEFT JOIN (SELECT query_id, neighbor_id FROM tp WHERE rp <= {_MATRYOSHKA_K}) p
      ON p.query_id = f.query_id AND p.neighbor_id = f.neighbor_id
)
SELECT query_id,
       CAST(SUM(hit) AS BIGINT) AS overlap_at_10,
       CAST(SUM(dm) AS BIGINT) AS sum_delta_micro,
       CAST(MAX(dm) AS BIGINT) AS max_delta_micro
FROM fin GROUP BY query_id
"""


def q_ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production SRP-LSH setting: 8 planes, probe Hamming ≤ 3 — probes
    36% of buckets (C(8,≤3)/2^8) for recall ≈0.56-0.68 on THIS corpus,
    which is LSH's adversarial case (random near-orthogonal embeddings
    → neighbor cosine ≈0.3 → near-random signatures). On real
    embedding corpora (clustered, neighbor cosine ≥0.8) the same
    setting prunes far harder at high recall; for corpora shaped like
    this testdata prefer ``ann_topk_ivf`` (recall 0.78 at 8/16 cells
    probed)."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ann_topk_lsh(emb, queries, k=5, n_planes=8, max_probe_hamming=3)


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ann_topk_ivf(emb, queries, k=5, n_cells=16, n_probe=8)


def q_ann_ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with EVERY cell probed — pruning disabled by construction, so
    the output must equal the exact top-k. A hash-exact oracle gate on
    the whole IVF machinery (centroid training, cell assignment, probe
    masking, blocked BLAS scoring, global top-k) that stays green at
    any data scale; only the pruning *selectivity* is approximate, and
    that is gated separately by :func:`q_ann_ivf_recall`."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ann_topk_ivf(emb, queries, k=5, n_cells=16, n_probe=16)


def q_ann_lsh_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH with the probe radius opened to the full signature width —
    every candidate survives the Hamming filter, so the output must
    equal the exact top-k (hash-exact gate on signatures + scoring)."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    return sim.ann_topk_lsh(emb, queries, k=5, n_planes=12, max_probe_hamming=12)


def q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the production IVF setting (n_probe=8/16):
    exact top-k joined against the ANN hits, reduced to
    ``(n_exact, recall_floor_met)``. ``n_exact`` is hash-checked
    against the exact-top-k oracle's row count; the boolean turns the
    pytest recall pin (≥0.6, tests/test_similarity.py) into a
    driver-visible gate that goes red the moment recall drifts.
    (Random near-orthogonal embeddings are IVF's adversarial case —
    measured recall here is ~0.78, so exact-equality is not the
    contract; the hash-exact machinery gate is q_ann_ivf_full_probe.)"""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = sim.cosine_topk_blocked(emb, queries, k=5).select("query_id", "neighbor_id")
    ann = sim.ann_topk_ivf(emb, queries, k=5, n_cells=16, n_probe=8).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(ann, ["query_id", "neighbor_id"], "left_semi")
    return exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("n_hit"))
    ).select(
        "n_exact",
        (F.col("n_hit") >= F.lit(0.6) * F.col("n_exact")).alias("recall_floor_met"),
    )


ORACLE_ANN_IVF_RECALL = f"""
WITH exact AS ({ORACLE_COSINE_TOPK})
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_floor_met FROM exact
"""


def q_ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall gate for the production SRP-LSH setting (8 planes, probe
    Hamming ≤ 3 — :func:`q_ann_topk_lsh`) — the LSH twin of
    :func:`q_ann_ivf_recall`. Floor 0.4 holds with margin at sf0.001
    (0.68) and sf0.01 (0.56) on this adversarial corpus and goes red
    the moment signature or probe logic drifts; the hash-exact
    machinery gate is :func:`q_ann_lsh_full_probe`."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = sim.cosine_topk_blocked(emb, queries, k=5).select("query_id", "neighbor_id")
    ann = sim.ann_topk_lsh(
        emb, queries, k=5, n_planes=8, max_probe_hamming=3
    ).select("query_id", "neighbor_id")
    hits = exact.join(ann, ["query_id", "neighbor_id"], "left_semi")
    return exact.agg(F.count(F.lit(1)).alias("n_exact")).crossJoin(
        hits.agg(F.count(F.lit(1)).alias("n_hit"))
    ).select(
        "n_exact",
        (F.col("n_hit") >= F.lit(0.4) * F.col("n_exact")).alias("recall_floor_met"),
    )


def q_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs via the DISTRIBUTED block-pair join
    (task memory O(n·dim/B), no theta self-join, no driver collect);
    the expression-fold all-pairs baseline stays as
    ``dedup.cosine_neardup_pairs`` (pytest ≡, and the shape the oracle
    mirrors)."""
    from data_quality_checks_in_relational_database_spark.operators.similarity import (
        cosine_allpairs_blockjoin,
    )

    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    pairs = cosine_allpairs_blockjoin(emb, threshold=0.95)
    return pairs.select("vec_id_a", "vec_id_b", F.round("cosine", 6).alias("cosine"))


ORACLE_COSINE_NEARDUP = """
WITH unit AS (
    SELECT vec_id,
           CAST(embedding AS DOUBLE[]) AS v,
           SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
    FROM embeddings
)
SELECT vec_id_a, vec_id_b, cosine FROM (
    SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
           ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM unit a JOIN unit b ON a.vec_id < b.vec_id
) WHERE cosine >= 0.95
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    feats = mm.extract_features(mm.documents_as_media(docs))
    return feats.select(
        "media_id", "n_bytes", "sha256"
    )  # fake_brightness is test-only (not SQL-portable)


ORACLE_MEDIA_FEATURES = """
SELECT doc_id AS media_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


def q_media_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG decode gate: per-document deterministic PNG encode →
    stdlib decode round trip; see
    :func:`operators.multimodal.png_roundtrip_features`. The oracle
    replays the image-generating arithmetic, so the decoder (header
    parse, all five filter reconstructions, brightness fold) is
    value-checked without DuckDB touching PNG bytes."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return mm.png_roundtrip_features(docs)


def q_media_jpeg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG frame-header probe gate (r4 verdict #7): per-document
    deterministic JPEG encode → marker-segment walk; see
    :func:`operators.multimodal.jpeg_probe_features`. The synthetic
    stream carries a decoy COM segment whose body mimics an SOF0
    marker with bogus dimensions — a byte-scan "parser" mismatches,
    only a length-respecting segment walker survives. The oracle
    replays the dimension arithmetic."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return mm.jpeg_probe_features(docs)


ORACLE_MEDIA_JPEG_PROBE = """
SELECT doc_id,
       CAST(doc_id % 317 + 1 AS BIGINT) AS width,
       CAST(doc_id % 211 + 1 AS BIGINT) AS height,
       CAST(doc_id % 3 + 1 AS BIGINT) AS n_components,
       doc_id % 2 = 1 AS progressive
FROM documents
"""


def q_media_mp4_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/ISO-BMFF header probe gate — the VIDEO leg completing the
    image/audio/video probe triangle (r5 verdict #4), populating
    ``MEDIA_SCHEMA.duration_ms`` for video. Per-document deterministic
    MP4 encode → box-tree walk (mvhd v0/v1 timescale+duration, tkhd
    16.16 dims of the first NONZERO-width track, stsd codec tag); the
    stream carries a decoy fake-moov inside a largesize mdat and an
    audio-FIRST track ordering on id%6==0, so byte-scanning and
    first-trak shortcuts both mismatch. The oracle replays the
    arithmetic. See :func:`operators.multimodal.mp4_probe_features`."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return mm.mp4_probe_features(docs)


ORACLE_MEDIA_MP4_PROBE = """
SELECT doc_id,
       ((doc_id % 99991) + 1) * 1000 // ((doc_id % 5 + 1) * 600) AS duration_ms,
       CAST((doc_id % 5 + 1) * 600 AS BIGINT) AS timescale,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n_tracks,
       CAST(doc_id % 1920 + 16 AS BIGINT) AS width,
       CAST(doc_id % 1080 + 16 AS BIGINT) AS height,
       (['avc1', 'hvc1', 'vp09', 'av01'])[(doc_id % 4) + 1] AS codec
FROM documents
"""


def q_media_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 SAMPLE-TABLE expansion gate: per document, a full
    stts/stsz/stsc/stco round trip exploded to one row per video
    sample, with the payload bytes checksummed AT the stco-derived
    absolute offset (decoy-shifted) — the ranged-read frame-sampling
    index at 100 TB. The oracle replays sizes/chunks/pts/checksums
    from (doc_id, sample) arithmetic alone: a wrong offset reads wrong
    bytes and the checksum mismatches, so absolute offset correctness
    is value-gated without any header-size arithmetic in SQL. See
    :func:`operators.multimodal.mp4_frame_index_features`."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return mm.mp4_frame_index_features(docs)


ORACLE_MEDIA_MP4_FRAMES = """
WITH p AS (
    SELECT doc_id AS i, doc_id % 9 + 1 AS n, (doc_id % 5 + 1) * 600 AS ts,
           (doc_id % 5 + 1) * 100 AS delta, doc_id % 3 + 1 AS spc
    FROM documents
),
s AS (SELECT i, ts, delta, spc, unnest(range(n)) AS j FROM p),
b AS (SELECT i, j, spc, delta, ts, (i + j) % 17 + 4 AS sz FROM s),
by_byte AS (
    SELECT i, j, spc, delta, ts, sz, unnest(range(sz)) AS bi FROM b
)
SELECT i AS doc_id, j AS sample_idx,
       CAST(j // spc AS BIGINT) AS chunk_idx,
       CAST(MAX(sz) AS BIGINT) AS size,
       (j * MAX(delta) * 1000) // MAX(ts) AS pts_ms,
       CAST(SUM((j * 7 + bi * 13) % 256) % 65536 AS BIGINT) AS checksum
FROM by_byte GROUP BY i, j, spc
"""


def q_media_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real AUDIO decode gate: per-document deterministic WAV/PCM16
    encode → stdlib RIFF-walk decode → exact integer signal stats; see
    :func:`operators.multimodal.wav_roundtrip_features`. The synthetic
    stream carries a decoy LIST chunk (its body mimics a ``data`` tag
    with a ~4 GB length) and an odd-length padded chunk; the oracle
    replays the per-SAMPLE arithmetic (a lateral range expansion), so
    the decoder's chunk walk, int16 unpack, and every stat fold
    (peak/energy/zero-crossings/clipping) are value-checked without
    DuckDB touching WAV bytes."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return mm.wav_roundtrip_features(docs)


ORACLE_MEDIA_WAV_DECODE = """
WITH p AS (
    SELECT doc_id AS i, doc_id % 40 + 12 AS nf,
           8000 + (doc_id % 3) * 4000 AS sr,
           doc_id % 2 + 1 AS nc
    FROM documents
),
tt AS (SELECT i, nc, unnest(range(nf)) AS t FROM p),
cc AS (SELECT i, t, unnest(range(nc)) AS c FROM tt),
v AS (
    SELECT i, t, c,
           ((i * 2654435761 + t * 9973 + c * 31) % 65536) - 32768 AS v
    FROM cc
),
ch0 AS (
    SELECT i, v, lag(v) OVER (PARTITION BY i ORDER BY t) AS pv
    FROM v WHERE c = 0
),
zc AS (
    SELECT i,
           SUM(CASE WHEN pv IS NOT NULL AND ((pv < 0) <> (v < 0))
                    THEN 1 ELSE 0 END) AS zero_cross
    FROM ch0 GROUP BY i
),
st AS (
    SELECT i, MAX(ABS(v)) AS peak_abs, SUM(v * v) AS sum_sq,
           SUM(CASE WHEN v >= 32767 OR v <= -32768 THEN 1 ELSE 0 END) AS n_clipped
    FROM v GROUP BY i
)
SELECT p.i AS doc_id,
       CAST(p.nc AS BIGINT) AS n_channels,
       CAST(p.sr AS BIGINT) AS sample_rate,
       CAST(p.nf AS BIGINT) AS n_frames,
       CAST(p.nf * 1000 // p.sr AS BIGINT) AS duration_ms,
       CAST(st.peak_abs AS BIGINT) AS peak_abs,
       CAST(st.sum_sq AS BIGINT) AS sum_sq,
       CAST(zc.zero_cross AS BIGINT) AS zero_cross,
       CAST(st.n_clipped AS BIGINT) AS n_clipped
FROM p JOIN st ON st.i = p.i JOIN zc ON zc.i = p.i
"""


ORACLE_MEDIA_PNG_DECODE = """
WITH dims AS (
    SELECT doc_id, doc_id % 13 + 1 AS w, doc_id % 7 + 1 AS h FROM documents
),
px AS (
    SELECT doc_id, w, h, (doc_id * 37 + 11 * y.y + x.x) % 256 AS v
    FROM dims,
         UNNEST(generate_series(0, h - 1)) AS y(y),
         UNNEST(generate_series(0, w - 1)) AS x(x)
)
SELECT doc_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS brightness_milli
FROM px GROUP BY doc_id, w, h
"""


# ---------------------------------------------------------------------------
# Events: streaming-equivalent windows + JSON props
# ---------------------------------------------------------------------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return windowed_volume(ev, window="1 hour")


ORACLE_EVENTS_HOURLY = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
FROM events GROUP BY 1, 2
"""


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding/hopping windows (1 hour every 30 minutes) — each event
    lands in exactly 2 epoch-aligned windows. Batch face of the same
    ``windowed_volume`` operator the streaming monitor runs (stream ≡
    batch pinned in tests/test_streaming.py)."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return windowed_volume(ev, window="1 hour", slide="30 minutes")


# each event belongs to windows starting at its 30-minute bucket and
# that bucket minus 30 minutes (window/slide = 2 memberships, both
# always within [start, start+1h))
ORACLE_EVENTS_SLIDING = """
SELECT window_start, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
FROM (
    SELECT CAST(time_bucket(INTERVAL '30 minutes', ts)
                - o.off * INTERVAL '30 minutes' AS TIMESTAMP) AS window_start,
           event_type, value
    FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS off) o
)
GROUP BY 1, 2
"""


def q_events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.max("k").alias("max_k"),
        F.count_distinct("k").alias("distinct_k"),
    )


ORACLE_EVENTS_JSON = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS distinct_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Sampling (training-data pipelines)
# ---------------------------------------------------------------------------


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 20-per-status sample of orders, selected by md5
    hash order — the engine-portable sampling that a DuckDB oracle can
    reproduce row-for-row."""
    from data_quality_checks_in_relational_database_spark.operators.sampling import (
        stratified_sample_exact,
    )

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return stratified_sample_exact(
        o, ["o_orderstatus"], "o_orderkey", 20
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


ORACLE_STRATIFIED_SAMPLE = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           ROW_NUMBER() OVER (
               PARTITION BY o_orderstatus
               ORDER BY MD5(CAST(o_orderkey AS VARCHAR)), o_orderkey
           ) AS rn
    FROM orders
) WHERE rn <= 20
"""


# ---------------------------------------------------------------------------
# Round 2 additions: sub-document dedup, range self-join, fuzzy linkage,
# Benford DQ, quartile token budgeting
# ---------------------------------------------------------------------------


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style span ("paragraph") dedup report per document."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.span_dedup_report(docs, span_words=16)


ORACLE_SPAN_DEDUP = f"""
WITH words AS (
    SELECT doc_id, list_filter({_TOKS}, t -> t != '') AS ws FROM documents
),
spans AS (
    SELECT doc_id, array_to_string(list_slice(ws, (i - 1) * 16 + 1, i * 16), ' ') AS span
    FROM words, UNNEST(generate_series(1, CAST(ceil(len(ws) / 16.0) AS BIGINT))) AS t(i)
),
counts AS (SELECT span, COUNT(*) AS c FROM spans GROUP BY span)
SELECT s.doc_id,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*) AS dup_span_fraction
FROM spans s JOIN counts USING (span)
GROUP BY s.doc_id
"""


def q_close_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user count of event pairs within 120 s — burst / duplicate-
    submission detector via the bucketed range self-join (never the
    O(n^2) theta join the oracle runs)."""
    from data_quality_checks_in_relational_database_spark.operators.interval import (
        close_pair_counts,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return close_pair_counts(ev, "user_id", "ts", "event_id", 120)


ORACLE_CLOSE_EVENT_PAIRS = """
SELECT a.user_id, COUNT(*) AS n_close_pairs
FROM events a JOIN events b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 120 * 1000000
GROUP BY a.user_id
"""


def q_close_event_pairs_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line twin of q_close_event_pairs — same oracle. Points
    within delta reduce to interval overlap ([t, t+delta] windows
    intersect iff |t_i - t_j| <= delta), so the O(n log n)/key
    overlap_stats sweep counts the pairs with no pair
    materialization."""
    from data_quality_checks_in_relational_database_spark.operators.interval import (
        overlap_stats,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    delta_us = 120 * 1_000_000
    iv = ev.select(
        "user_id", us.alias("s"), (us + F.lit(delta_us)).alias("e")
    )
    return overlap_stats(iv, "user_id", "s", "e").select(
        "user_id", F.col("n_overlapping_pairs").alias("n_close_pairs")
    )


# ENFORCED saturation budgets for the blocked (quadratic-baseline)
# linkage forms (r5 verdict: a hard pre-flight guard, not an advisory
# one). Measured pairs/record on the part corpus: 2-key 0.5/5/50/504
# across data decades (sf0.001..10x-sf0.1), keyed 0.1/1.3, multipass
# pass-2 (p_type, last token) 21/208. Budgets sit one decade above the
# sf0.1 operating point: the queries run everywhere the repo tests
# them and REFUSE (ValueError naming the SNM alternatives) once the
# key saturates — the 3x audit records the refusal.
_BLOCK_PAIR_BUDGET = 100
_MULTIPASS_PAIR_BUDGET = 250


def q_fuzzy_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance linkage over part names: pairs within
    (brand, first name token) blocks at levenshtein <= 2."""
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        blocked_fuzzy_pairs,
    )

    part = load_tables(spark, sf_dir, ("part",))["part"]
    return blocked_fuzzy_pairs(
        part,
        text_col="p_name",
        id_col="p_partkey",
        block_cols=[F.col("p_brand"), F.split(F.col("p_name"), " ").getItem(0)],
        max_dist=2,
        max_pairs_per_record=_BLOCK_PAIR_BUDGET,
    ).select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))


ORACLE_FUZZY_PARTS = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand
 AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


def q_fuzzy_parts_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The re-keyed linkage remedy for ``fuzzy_parts``'s measured
    quadratic (SCALING.md: 8.3× wall at 3× data): the same edit-≤2
    verify inside (brand × type × size) blocks — 7,500 possible keys vs
    the old key's ~200, cutting candidate pairs ~37× at sf0.1. Honest
    contract: ANY fixed-cardinality key saturates eventually (at 3×
    sf0.1 the key space is full and block sizes grow linearly again),
    which is why the HEADLINE for this family is the O(n·w)
    ``sorted_neighborhood`` path; this query demonstrates the
    re-keying remedy and carries its own exact oracle."""
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        blocked_fuzzy_pairs,
    )

    part = load_tables(spark, sf_dir, ("part",))["part"]
    return blocked_fuzzy_pairs(
        part,
        text_col="p_name",
        id_col="p_partkey",
        block_cols=[F.col("p_brand"), F.col("p_type"), F.col("p_size").cast("string")],
        max_dist=2,
        max_pairs_per_record=_BLOCK_PAIR_BUDGET,
    ).select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))


ORACLE_FUZZY_PARTS_KEYED = """
SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand
 AND a.p_type = b.p_type
 AND a.p_size = b.p_size
 AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit distribution of order totals."""
    from data_quality_checks_in_relational_database_spark.operators.profile import (
        benford_report,
    )

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    return benford_report(orders, "o_totalprice")


_BENFORD_CASE = (
    "CASE digit WHEN 1 THEN 301 WHEN 2 THEN 176 WHEN 3 THEN 125 WHEN 4 THEN 97 "
    "WHEN 5 THEN 79 WHEN 6 THEN 67 WHEN 7 THEN 58 WHEN 8 THEN 51 ELSE 46 END"
)

ORACLE_BENFORD = f"""
WITH pos AS (
    SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
    FROM orders
    WHERE o_totalprice > 0 AND CAST(round(o_totalprice * 100) AS BIGINT) >= 1
),
counts AS (SELECT digit, COUNT(*) AS n FROM pos GROUP BY digit),
tot AS (SELECT SUM(n) AS total FROM counts)
SELECT digit, n,
       (CAST(n AS DOUBLE) / total) AS share,
       {_BENFORD_CASE} AS expected_milli,
       CAST(abs(CAST(round((CAST(n AS DOUBLE) / total) * 1000) AS INT) - ({_BENFORD_CASE})) AS INT) AS dev_milli
FROM counts, tot
"""


def q_token_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget quartiles: exact interpolated quartile thresholds of
    per-doc BPE-ish token counts, then per-bucket integer stats. The
    threshold aggregate is distributed (sort-based exact percentile —
    swap percentile_approx at 100 TB); bucketing is a broadcast of 3
    doubles, NOT a global-sort ntile (a single-partition window would
    not survive scale)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    toks = docs.select(F.col("doc_id"), tx.bpe_token_count(F.col("text")).alias("n_tokens"))
    th = toks.agg(
        F.expr("percentile(n_tokens, 0.25)").alias("q1"),
        F.expr("percentile(n_tokens, 0.5)").alias("q2"),
        F.expr("percentile(n_tokens, 0.75)").alias("q3"),
    )
    bucket = (
        F.when(F.col("n_tokens") <= F.col("q1"), 1)
        .when(F.col("n_tokens") <= F.col("q2"), 2)
        .when(F.col("n_tokens") <= F.col("q3"), 3)
        .otherwise(4)
    )
    return (
        toks.crossJoin(F.broadcast(th))
        .groupBy(bucket.alias("quartile"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


ORACLE_TOKEN_QUARTILES = f"""
WITH toks AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{tx.BPE_TOKEN_PATTERN}')) AS BIGINT) AS n_tokens
    FROM documents
),
th AS (
    SELECT quantile_cont(n_tokens, 0.25) AS q1,
           quantile_cont(n_tokens, 0.5) AS q2,
           quantile_cont(n_tokens, 0.75) AS q3
    FROM toks
)
SELECT CASE WHEN n_tokens <= q1 THEN 1 WHEN n_tokens <= q2 THEN 2
            WHEN n_tokens <= q3 THEN 3 ELSE 4 END AS quartile,
       COUNT(*) AS n_docs,
       MIN(n_tokens) AS min_tokens,
       MAX(n_tokens) AS max_tokens,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
FROM toks, th
GROUP BY 1
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup (|A∩B|/|A| — catches quoted /
    superset documents Jaccard misses)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.containment_pairs(docs, threshold=0.8)


ORACLE_CONTAINMENT_PAIRS = f"""
WITH toks AS (
    SELECT doc_id, {_TOKS} AS t FROM documents WHERE length(trim(text)) > 0
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
    FROM toks WHERE len(t) >= 3
),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.s, b.s)) AS shared,
           len(a.s) AS size_a, len(b.s) AS size_b
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.s, b.s)) > 0
)
SELECT doc_id_small, doc_id_big, containment FROM (
    SELECT id_a AS doc_id_small, id_b AS doc_id_big,
           shared / CAST(size_a AS DOUBLE) AS containment FROM pairs
    UNION ALL
    SELECT id_b, id_a, shared / CAST(size_b AS DOUBLE) FROM pairs
) WHERE containment >= 0.8
"""


def q_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered twin of q_decontam — SAME oracle: the literal-
    bitset prefilter has no false negatives and the exact verify join
    removes false positives, so the report must hash-match the plain
    inverted-index path."""
    from data_quality_checks_in_relational_database_spark.operators.decontam import (
        bloom_contamination_report,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    corpus = docs.filter(F.col("source") != "src0")
    eval_set = docs.filter(F.col("source") == "src0")
    return bloom_contamination_report(corpus, eval_set, n=5)


# ---------------------------------------------------------------------------
# Round 2 additions: keyword retrieval + LM-proxy quality scoring
# ---------------------------------------------------------------------------

#: Literal query for the BM25 retrieval gate — common-ish corpus terms
#: with different document frequencies so idf weighting is exercised.
BM25_QUERY: tuple[str, ...] = ("spark", "join", "window")


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed query — keyword retrieval over the
    corpus without exploding it (per-term HOF counts + one broadcast
    stats row)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.bm25_topk(docs, BM25_QUERY, k=10)


def _bm25_oracle(terms: tuple[str, ...], k: int = 10, k1: float = 1.2, b: float = 0.75) -> str:
    tf_cols = ",\n           ".join(
        f"len(list_filter(ws, t -> t = '{w}')) AS tf_{i}" for i, w in enumerate(terms)
    )
    df_cols = ",\n           ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}" for i in range(len(terms))
    )
    # mirror the Spark expression's evaluation shape exactly:
    # 0.0 + idf_0*w_0 + idf_1*w_1 + ... (left-to-right), with
    # (1.0 - b) constant-folded to 0.25 as Python does.
    one_minus_b = 1.0 - b
    k1p1 = k1 + 1.0
    score = "0.0"
    for i in range(len(terms)):
        idf = f"ln((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5) / (CAST(df_{i} AS DOUBLE) + 0.5) + 1.0)"
        w = (
            f"(CAST(tf_{i} AS DOUBLE) * {k1p1!r} / (CAST(tf_{i} AS DOUBLE) + "
            f"{k1!r} * ({one_minus_b!r} + {b!r} * CAST(dl AS DOUBLE) / avgdl)))"
        )
        score = f"{score} + {idf} * {w}"
    return f"""
WITH toks AS (
    SELECT doc_id, list_filter({_TOKS}, t -> t != '') AS ws FROM documents
),
per_doc AS (
    SELECT doc_id, len(ws) AS dl,
           {tf_cols}
    FROM toks
),
stats AS (
    SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl,
           {df_cols}
    FROM per_doc
),
scored AS (
    SELECT doc_id, dl AS doc_len,
           ROUND({score}, 6) AS bm25
    FROM per_doc, (SELECT *, CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl FROM stats)
)
SELECT doc_id, CAST(doc_len AS BIGINT) AS doc_len, bm25
FROM scored
ORDER BY bm25 DESC, doc_id ASC
LIMIT {k}
"""


ORACLE_BM25_SEARCH = _bm25_oracle(BM25_QUERY)


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one unigram LM score per document (CCNet-style
    perplexity-proxy quality filter)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.unigram_lm_scores(docs)


ORACLE_LM_SCORE = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_filter({_TOKS}, t -> t != '')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
vocab AS (SELECT tok, SUM(tf) AS c FROM tf GROUP BY tok),
totals AS (
    SELECT CAST(SUM(c) AS DOUBLE) AS t_total, CAST(COUNT(*) AS DOUBLE) AS v_size FROM vocab
)
SELECT f.doc_id,
       CAST(SUM(f.tf) AS BIGINT) AS n_tokens,
       ROUND(
           SUM(CAST(f.tf AS DOUBLE)
               * ln((CAST(v.c AS DOUBLE) + 1.0) / (t.t_total + t.v_size))
               ORDER BY f.tok)
           / CAST(SUM(f.tf) AS DOUBLE), 6) AS avg_logprob
FROM tf f JOIN vocab v USING (tok), totals t
GROUP BY f.doc_id
"""


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking (64-token windows every 48
    tokens) — chunk ids, sizes and content hashes per document."""
    from data_quality_checks_in_relational_database_spark.operators.packing import sliding_chunks

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return sliding_chunks(docs, size=64, stride=48)


ORACLE_CHUNK_OVERLAP = f"""
WITH toks AS (
    SELECT doc_id, list_filter({_TOKS}, t -> t != '') AS ws FROM documents
),
meta AS (SELECT doc_id, ws, len(ws) AS n FROM toks WHERE len(ws) > 0),
chunks AS (
    SELECT doc_id, i AS chunk_id,
           list_slice(ws, i * 48 + 1, i * 48 + 64) AS chunk
    FROM meta,
         UNNEST(generate_series(0, (greatest(n - 64, 0) + 47) // 48)) AS t(i)
)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(chunk) AS BIGINT) AS chunk_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM chunks
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: the first 8 learned merges
    with their corpus pair counts. The Spark side is iterative (one
    aggregation + one argmax row per round); the DuckDB oracle replays
    the SAME 8 rounds as an UNROLLED CTE chain (materialized per
    round), applying each learned merge with the double-space
    separator replace trick so greedy left-to-right non-overlapping
    merge semantics are preserved — plus the pure-Python replay gate
    in tests/test_tokenizer.py."""
    from data_quality_checks_in_relational_database_spark.operators.tokenizer import (
        bpe_train_merges,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return bpe_train_merges(docs, n_merges=8)


def _oracle_bpe_merges(n_merges: int = 8, min_pair_count: int = 2) -> str:
    """Generate the unrolled-iteration DuckDB twin of
    ``bpe_train_merges(n_merges)``.

    Per round k: count adjacent symbol pairs weighted by word
    frequency (list comprehension + UNNEST), pick the argmax with the
    same (count DESC, l, r) tie-break, then apply the merge via string
    replace over a DOUBLE-space-separated symbol string: pattern
    ``' l  r '`` / replacement ``' lr '`` each consume ONE space of
    every 2-space boundary, so back-to-back matches (e.g. a a a a →
    aa aa) chain exactly like the sequential greedy scan — a
    single-space separator would eat the shared boundary and
    under-merge. MATERIALIZED is load-bearing: inlined CTEs would
    re-evaluate each round's chain exponentially. An exhausted round
    (best pair count < min) yields an empty b<k>; the rewrite then
    keeps symbols unchanged, so every later round recomputes the same
    sub-threshold pair table and stays empty — the Spark side's early
    stop, and the final symbolization stays valid for the encode
    oracle (:data:`ORACLE_BPE_TOKEN_BUDGET`)."""
    return "WITH " + _bpe_chain_ctes(n_merges, min_pair_count) + "\n" + (
        "\nUNION ALL ".join(
            f'SELECT CAST({k} AS BIGINT) AS rank, l AS "left", r AS "right",'
            f" CAST(c AS BIGINT) AS pair_count FROM b{k}"
            for k in range(n_merges)
        )
    )


def _bpe_chain_ctes(n_merges: int, min_pair_count: int) -> str:
    """The shared unrolled-round CTE chain (see
    :func:`_oracle_bpe_merges`): wf → v0 → (p_k, b_k, v_{k+1})*.
    Every v carries the original word ``w`` so the final symbolization
    v<n_merges> doubles as the ENCODE table (word → post-merge symbol
    list) for the token-budget oracle."""
    parts = [
        f"""
wf AS MATERIALIZED (
    SELECT w, COUNT(*) AS freq FROM (
        SELECT UNNEST({_TOKS}) AS w FROM documents
    ) GROUP BY w
),
v0 AS MATERIALIZED (
    SELECT w, freq, [w[i] for i in range(1, len(w) + 1)] AS sp FROM wf
)"""
    ]
    for k in range(n_merges):
        parts.append(
            f"""
p{k} AS MATERIALIZED (
    SELECT pr.l AS l, pr.r AS r, SUM(freq) AS c
    FROM (SELECT freq, UNNEST([{{'l': sp[i], 'r': sp[i+1]}} for i in range(1, len(sp))]) AS pr
          FROM v{k} WHERE len(sp) >= 2)
    GROUP BY 1, 2
),
b{k} AS MATERIALIZED (
    SELECT l, r, c FROM p{k} WHERE c >= {min_pair_count} ORDER BY c DESC, l, r LIMIT 1
),
v{k + 1} AS MATERIALIZED (
    SELECT w, freq,
           CASE WHEN (SELECT COUNT(*) FROM b{k}) = 0 THEN sp
                ELSE string_split(trim(replace('  ' || array_to_string(sp, '  ') || '  ',
                         ' ' || (SELECT l FROM b{k}) || '  ' || (SELECT r FROM b{k}) || ' ',
                         ' ' || (SELECT l || r FROM b{k}) || ' ')), '  ')
           END AS sp
    FROM v{k}
)"""
        )
    return ",".join(parts)


ORACLE_BPE_MERGES = _oracle_bpe_merges()


def q_bpe_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closes the tokenizer loop train → encode: learn 8 BPE merges on
    the corpus, then bill every document's token count under them —
    the budget a tokenizer with those merges would actually produce
    (what sequence packing and mixture weighting consume downstream).
    The merge table is driver-sized by contract (8 rows collected);
    encoding applies the merges to DISTINCT words then joins back to
    per-doc term frequencies, so corpus text is scanned once. Oracle:
    the same unrolled 8-round CTE chain as ``bpe_merges`` — its final
    per-word symbolization IS the encode table."""
    from data_quality_checks_in_relational_database_spark.operators.tokenizer import (
        bpe_encode_counts,
        bpe_train_merges,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    merge_rows = bpe_train_merges(docs, n_merges=8).orderBy("rank").collect()
    merges = [(r["left"], r["right"]) for r in merge_rows]  # bounded: n_merges rows
    return bpe_encode_counts(docs, merges)


ORACLE_BPE_TOKEN_BUDGET = (
    "WITH "
    + _bpe_chain_ctes(8, 2)
    + f""",
tf AS (
    SELECT doc_id, w, COUNT(*) AS tf FROM (
        SELECT doc_id, UNNEST({_TOKS}) AS w FROM documents
    ) GROUP BY doc_id, w
)
SELECT tf.doc_id,
       CAST(SUM(tf.tf) AS BIGINT) AS n_words,
       CAST(SUM(tf.tf * len(v8.sp)) AS BIGINT) AS n_bpe_tokens
FROM tf JOIN v8 USING (w)
GROUP BY tf.doc_id
"""
)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sample: top-5 A-ES draws per
    order status, weighted by order value (md5-derived uniforms make
    the sample itself oracle-checkable)."""
    from data_quality_checks_in_relational_database_spark.operators.sampling import (
        weighted_sample_exact,
    )

    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    return weighted_sample_exact(
        orders, weight_col="o_totalprice", id_col="o_orderkey", k=5,
        strata=["o_orderstatus"],
    )


ORACLE_WEIGHTED_SAMPLE = """
WITH keyed AS (
    SELECT o_orderstatus, o_orderkey, o_totalprice,
           ln(CAST(CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) + 1 AS DOUBLE)
              / 1152921504606846976.0) / CAST(o_totalprice AS DOUBLE) AS es_key
    FROM orders
    WHERE o_totalprice IS NOT NULL AND o_totalprice > 0
)
SELECT o_orderstatus, o_orderkey, o_totalprice, rank FROM (
    SELECT o_orderstatus, o_orderkey, o_totalprice,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                   ORDER BY es_key DESC, o_orderkey ASC) AS BIGINT) AS rank
    FROM keyed
) WHERE rank <= 5
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dump-vs-corpus incremental near-dedup: new batch (source src0)
    MinHash-banded against the rest of the corpus, exact-verified.
    Banding recall at the 0.5 threshold is pinned in pytest, so the
    output equals the exact cross-set inverted-index pairs — the oracle
    below computes exactly those."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    new = docs.filter(F.col("source") == "src0")
    corpus = docs.filter(F.col("source") != "src0")
    return dd.minhash_lsh_pairs_against(new, corpus, threshold=0.5)


ORACLE_INCREMENTAL_DEDUP = """
WITH toks AS (
    SELECT doc_id, source, string_split_regex(trim(lower(text)), '\\s+') AS t
    FROM documents WHERE length(trim(text)) > 0
),
sh AS (
    SELECT doc_id, source,
           list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
    FROM toks WHERE len(t) >= 3
)
SELECT new_id, corpus_id, jaccard FROM (
    SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
           len(list_intersect(a.s, b.s)) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
    FROM sh a JOIN sh b ON a.source = 'src0' AND b.source != 'src0'
) WHERE jaccard >= 0.5
"""


def q_source_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard over the LM-proxy quality score:
    doc counts, mean (exact integer micro-unit sum — no float
    accumulation drift), exact interpolated median, min/max. The
    number a mixture policy reweighs sources by."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    lm = tx.unigram_lm_scores(docs)
    j = lm.join(docs.select("doc_id", "source"), "doc_id")
    micro = F.round(F.col("avg_logprob") * 1e6).cast("long")
    n = F.count(F.lit(1))
    return j.groupBy("source").agg(
        n.cast("long").alias("n_docs"),
        F.round(F.sum(micro) / (n * F.lit(1_000_000.0)), 6).alias("mean_logprob"),
        F.round(F.percentile("avg_logprob", F.lit(0.5)), 6).alias("median_logprob"),
        F.min("avg_logprob").alias("min_logprob"),
        F.max("avg_logprob").alias("max_logprob"),
    )


def _fulfillment_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_suppkey, rid, s, e): per-lineitem fulfillment window between
    order date and ship date, normalized to s <= e with least/greatest
    (this synthetic data ships ~half its lines before the order date).

    rid must be UNIQUE for the pair-join path's `rid_a < rid_b`
    emit-once rule, but (l_orderkey, l_linenumber) is NOT a key in this
    data (multiplicity up to 6) — identical composite keys get a
    deterministic per-group sequence via a keyed row_number ordered by
    (s, e) (any assignment among fully-identical rows yields the same
    pair multiset, so it is engine-portable)."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("lineitem", "orders"))
    epoch = F.to_date(F.lit("1970-01-01"))
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_linenumber", "l_shipdate")
    d1 = F.datediff(F.col("o_orderdate"), epoch)
    d2 = F.datediff(F.col("l_shipdate"), epoch)
    base = li.join(
        t["orders"].select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "l_suppkey",
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("rid0"),
        F.least(d1, d2).alias("s"),
        F.greatest(d1, d2).alias("e"),
    )
    seq = F.row_number().over(
        Window.partitionBy("l_suppkey", "rid0").orderBy("s", "e")
    )
    return base.select(
        "l_suppkey", (F.col("rid0") * 8 + seq).alias("rid"), "s", "e"
    )


def q_transit_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier count + total mass of pairwise-overlapping
    fulfillment windows — concurrent open orders per supplier. Runs the
    SWEEP-LINE form (two keyed event windows, O(n log n) per key, no
    pair materialization); the oracle runs the O(n²) theta join, and
    q_transit_overlaps_pairs gates the bucketed pair-join form against
    the same oracle."""
    from data_quality_checks_in_relational_database_spark.operators.interval import (
        overlap_stats,
    )

    return overlap_stats(_fulfillment_intervals(spark, sf_dir), "l_suppkey", "s", "e")


def q_transit_overlaps_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pair-materializing twin of q_transit_overlaps (bucketed
    equi-join) — same oracle; this is the path that also EMITS pairs
    and spreads one hot key across partitions via the bucket dimension."""
    from data_quality_checks_in_relational_database_spark.operators.interval import (
        overlap_pair_counts,
    )

    iv = _fulfillment_intervals(spark, sf_dir)
    # W well above the ~60-day typical window: per-key density is low
    # here, so explode/shuffle volume (∝ 1 + len/W) dominates the
    # candidate-probe growth (∝ W); shrink W toward the interval length
    # as per-key density rises.
    return overlap_pair_counts(iv, "l_suppkey", "s", "e", "rid", bucket_width=512)


ORACLE_TRANSIT_OVERLAPS = """
WITH iv0 AS (
    SELECT l_suppkey, l_orderkey * 10 + l_linenumber AS rid0,
           LEAST(DATEDIFF('day', DATE '1970-01-01', o_orderdate),
                 DATEDIFF('day', DATE '1970-01-01', l_shipdate)) AS s,
           GREATEST(DATEDIFF('day', DATE '1970-01-01', o_orderdate),
                    DATEDIFF('day', DATE '1970-01-01', l_shipdate)) AS e
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
iv AS (
    SELECT l_suppkey,
           rid0 * 8 + ROW_NUMBER() OVER (PARTITION BY l_suppkey, rid0
                                         ORDER BY s, e) AS rid,
           s, e
    FROM iv0
)
SELECT a.l_suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_overlapping_pairs,
       CAST(SUM(LEAST(a.e, b.e) - GREATEST(a.s, b.s)) AS BIGINT) AS total_overlap
FROM iv a JOIN iv b
  ON a.l_suppkey = b.l_suppkey AND a.rid < b.rid
 AND a.s <= b.e AND b.s <= a.e
GROUP BY a.l_suppkey
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-shingle overlap matrix between sources (re-crawl /
    snapshot-overlap diagnostic) — hashed inverted-index self-join."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.cross_source_overlap(docs, n=3)


ORACLE_SOURCE_OVERLAP = f"""
WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
inv AS (
    SELECT DISTINCT source, shingle FROM (
        SELECT source,
               UNNEST(list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) AS shingle
        FROM toks WHERE len(t) >= 3
    )
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_shingles
FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.source < b.source
GROUP BY 1, 2
"""


def q_frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 5-grams by document frequency — boilerplate /
    template detection. Gram text never shuffles at corpus volume: the
    count pass shuffles 8-byte hashes, the text of the ≈20 winners is
    recovered by a second broadcast-semi pass."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.frequent_ngrams(docs, n=5, top_k=20)


ORACLE_FREQUENT_NGRAMS = f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
grams AS (
    SELECT UNNEST(list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, len(t) - 3)])) AS gram
    FROM toks
),
counts AS (SELECT gram, COUNT(*) AS doc_freq FROM grams GROUP BY gram)
SELECT rank, gram, doc_freq FROM (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, gram ASC) AS BIGINT) AS rank,
           gram, doc_freq
    FROM counts
) WHERE rank <= 20
"""


def q_quality_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup-cluster resolution: near-dup clusters keep
    their highest-token-count member (argmax quality, min-id ties)
    instead of the arbitrary min id — the representative policy real
    corpus curation uses. Oracle: recursive-CTE closure over the exact
    pair oracle + the same argmax window."""
    from data_quality_checks_in_relational_database_spark.operators.cluster import (
        quality_representatives,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.5)
    quality = docs.select(
        "doc_id", tx.bpe_token_count(F.col("text")).cast("long").alias("quality")
    )
    return quality_representatives(pairs, quality)


ORACLE_QUALITY_KEEPERS = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({ORACLE_NGRAM_JACCARD}),
edges AS MATERIALIZED (
    SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
    UNION ALL
    SELECT doc_id_b, doc_id_a FROM pairs
),
reach(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
q AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{tx.BPE_TOKEN_PATTERN}')) AS BIGINT) AS quality
    FROM documents
),
scored AS (
    SELECT c.node, c.cluster_id, q.quality FROM comp c JOIN q ON q.doc_id = c.node
),
sized AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM scored GROUP BY cluster_id)
SELECT node AS doc_id, s.cluster_id, z.cluster_size, s.quality,
       (ROW_NUMBER() OVER (PARTITION BY s.cluster_id
                           ORDER BY s.quality DESC, s.node ASC)) = 1 AS is_representative
FROM scored s JOIN sized z USING (cluster_id)
"""


def q_join_explosion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join fan-out audit over events.user_id: users whose
    session-stitching self-join would emit ≥ 5000 rows. Counts first,
    product computed never materialized."""
    from data_quality_checks_in_relational_database_spark.operators.skew import (
        join_explosion_report,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return join_explosion_report(ev, ev, ["user_id"], threshold=5000)


ORACLE_JOIN_EXPLOSION = """
WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
SELECT user_id, n AS left_rows, n AS right_rows, n * n AS product
FROM c WHERE n * n >= 5000
"""


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token collocations by PMI (multiword-expression
    mining for vocab curation)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tx.pmi_collocations(docs, top_k=20, min_count=5)


ORACLE_PMI_COLLOCATIONS = f"""
WITH toks AS (SELECT {_TOKS} AS t FROM documents),
uni AS (SELECT UNNEST(t) AS x FROM toks),
cu AS (SELECT x, COUNT(*) AS n FROM uni GROUP BY x),
bi AS (
    SELECT t[i] AS x, t[i + 1] AS y
    FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS q(i)
),
cb AS (SELECT x, y, COUNT(*) AS pair_count FROM bi GROUP BY x, y),
tot AS (
    SELECT (SELECT CAST(SUM(n) AS DOUBLE) FROM cu) AS n_uni,
           (SELECT CAST(SUM(pair_count) AS DOUBLE) FROM cb) AS n_bi
),
scored AS (
    SELECT cb.x, cb.y, cb.pair_count,
           ROUND(LN(CAST(cb.pair_count AS DOUBLE) / n_bi)
                 - LN(CAST(ux.n AS DOUBLE) / n_uni)
                 - LN(CAST(uy.n AS DOUBLE) / n_uni), 6) AS pmi
    FROM cb JOIN cu ux ON cb.x = ux.x JOIN cu uy ON cb.y = uy.x, tot
    WHERE cb.pair_count >= 5
)
SELECT rank, x, y, pair_count, pmi FROM (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, x ASC, y ASC) AS BIGINT) AS rank,
           x, y, pair_count, pmi
    FROM scored
) WHERE rank <= 20
"""


def q_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus pruning: bucket documents by
    LM-score tertiles (head = highest avg log-prob third), report per
    (source, bucket) doc/token mass. The thresholds are one exact
    distributed percentile row broadcast back — never a global-sort
    ntile (same shape as q_token_quartiles)."""
    from pyspark.storagelevel import StorageLevel

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # pin the LM score table (one row per doc): the tertile thresholds
    # and the bucket join both consume it, and the unigram LM pipeline
    # is the expensive part of this query
    lm = tx.unigram_lm_scores(docs).persist(StorageLevel.MEMORY_AND_DISK)
    th = lm.agg(
        F.expr("percentile(avg_logprob, CAST(1.0/3.0 AS DOUBLE))").alias("t1"),
        F.expr("percentile(avg_logprob, CAST(2.0/3.0 AS DOUBLE))").alias("t2"),
    )
    bucket = (
        F.when(F.col("avg_logprob") > F.col("t2"), "head")
        .when(F.col("avg_logprob") > F.col("t1"), "middle")
        .otherwise("tail")
    )
    j = lm.join(docs.select("doc_id", "source"), "doc_id").crossJoin(F.broadcast(th))
    return j.groupBy("source", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum(F.round(F.col("avg_logprob") * 1e6).cast("long"))
            / (F.count(F.lit(1)) * F.lit(1_000_000.0)),
            6,
        ).alias("mean_logprob"),
    )


ORACLE_PPL_BUCKETS = f"""
WITH lm AS ({ORACLE_LM_SCORE}),
th AS (
    SELECT quantile_cont(avg_logprob, CAST(1.0/3.0 AS DOUBLE)) AS t1,
           quantile_cont(avg_logprob, CAST(2.0/3.0 AS DOUBLE)) AS t2
    FROM lm
),
j AS (
    SELECT lm.*, d.source,
           CASE WHEN avg_logprob > t2 THEN 'head'
                WHEN avg_logprob > t1 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM lm JOIN documents d USING (doc_id), th
)
SELECT source, bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(SUM(CAST(round(avg_logprob * 1000000, 0) AS BIGINT))
             / (COUNT(*) * 1000000.0), 6) AS mean_logprob
FROM j
GROUP BY source, bucket
"""


def q_weekend_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon drift between weekday and weekend event-type
    mixes — the categorical drift report (PSI/KS need a numeric axis)."""
    from data_quality_checks_in_relational_database_spark.operators.diff import (
        categorical_drift,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # dayofweek: 1 = Sunday, 7 = Saturday (Spark) — mirror with DuckDB dow
    wk = ev.filter(~F.dayofweek(F.col("ts").cast("timestamp")).isin(1, 7))
    we = ev.filter(F.dayofweek(F.col("ts").cast("timestamp")).isin(1, 7))
    return categorical_drift(wk, we, "event_type")


# DuckDB dayofweek: 0 = Sunday .. 6 = Saturday
ORACLE_WEEKEND_DRIFT = """
WITH bc AS (
    SELECT event_type AS category, COUNT(*) AS base_n FROM events
    WHERE dayofweek(ts) NOT IN (0, 6) GROUP BY 1
),
cc AS (
    SELECT event_type AS category, COUNT(*) AS curr_n FROM events
    WHERE dayofweek(ts) IN (0, 6) GROUP BY 1
),
j AS (
    SELECT COALESCE(bc.category, cc.category) AS category,
           COALESCE(base_n, 0) AS base_n, COALESCE(curr_n, 0) AS curr_n
    FROM bc FULL OUTER JOIN cc USING (category)
),
tot AS (SELECT CAST(SUM(base_n) AS DOUBLE) AS tb, CAST(SUM(curr_n) AS DOUBLE) AS tc FROM j)
SELECT category, base_n, curr_n,
       ROUND(CAST(base_n AS DOUBLE) / tb, 6) AS base_share,
       ROUND(CAST(curr_n AS DOUBLE) / tc, 6) AS curr_share,
       ROUND((CASE WHEN base_n > 0 THEN (CAST(base_n AS DOUBLE) / tb)
                  * LN((CAST(base_n AS DOUBLE) / tb)
                       / ((CAST(base_n AS DOUBLE) / tb + CAST(curr_n AS DOUBLE) / tc) / 2))
              ELSE 0.0 END
             + CASE WHEN curr_n > 0 THEN (CAST(curr_n AS DOUBLE) / tc)
                  * LN((CAST(curr_n AS DOUBLE) / tc)
                       / ((CAST(base_n AS DOUBLE) / tb + CAST(curr_n AS DOUBLE) / tc) / 2))
              ELSE 0.0 END) / 2, 6) AS js_term
FROM j, tot
"""


def q_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global export row numbering of orders by (o_orderdate,
    o_orderkey) — two-phase range-partitioned numbering, never the
    single-partition `ROW_NUMBER() OVER (ORDER BY ...)` the oracle
    runs."""
    from data_quality_checks_in_relational_database_spark.operators.sampling import (
        global_row_index,
    )

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    idx = global_row_index(
        o.select("o_orderkey", "o_orderdate"), ["o_orderdate", "o_orderkey"]
    )
    return idx.select("row_idx", "o_orderkey")


ORACLE_GLOBAL_INDEX = """
SELECT CAST(ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS row_idx,
       o_orderkey
FROM orders
"""


def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data "data card": the headline corpus facts (volume,
    token mass, exact-dup rate, language spread, length distribution)
    as one long-format (metric, value) report — ONE scan, one wide
    aggregation row, unpivoted with stack(). The one-pager a dataset
    release ships next to the corpus."""
    from data_quality_checks_in_relational_database_spark.functions.scalars import (
        token_count,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    norm = F.concat_ws(" ", tx.tokens(F.col("text")))
    per = docs.select(
        "lang",
        F.md5(norm.cast("binary")).alias("fp"),
        token_count(F.col("text")).alias("nt"),
    )
    agg = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
        F.count_distinct("fp").alias("n_distinct"),
        F.count_distinct("lang").alias("n_langs"),
        F.expr("percentile(nt, CAST(0.5 AS DOUBLE))").alias("p50"),
        F.sum(F.when(F.col("nt") == 0, 1).otherwise(0)).alias("n_empty"),
    )
    wide = agg.select(
        F.col("n_docs").cast("double").alias("n_docs"),
        F.col("n_tokens").cast("double").alias("n_tokens"),
        F.col("n_distinct").cast("double").alias("n_distinct_contents"),
        F.col("n_langs").cast("double").alias("n_langs"),
        F.round(F.col("p50"), 6).alias("p50_doc_tokens"),
        F.round(
            F.lit(1.0)
            - F.try_divide(F.col("n_distinct").cast("double"), F.col("n_docs")),
            6,
        ).alias("exact_dup_fraction"),
        F.round(
            F.try_divide(F.col("n_tokens").cast("double"), F.col("n_docs")), 6
        ).alias("mean_doc_tokens"),
        F.round(
            F.try_divide(F.col("n_empty").cast("double"), F.col("n_docs")), 6
        ).alias("empty_doc_fraction"),
    )
    metrics = [
        "n_docs",
        "n_tokens",
        "n_distinct_contents",
        "n_langs",
        "p50_doc_tokens",
        "exact_dup_fraction",
        "mean_doc_tokens",
        "empty_doc_fraction",
    ]
    stack = ", ".join(f"'{m}', {m}" for m in metrics)
    return wide.selectExpr(f"stack({len(metrics)}, {stack}) AS (metric, value)")


ORACLE_CORPUS_CARD = f"""
WITH per AS (
    SELECT lang,
           md5(array_to_string({_TOKS}, ' ')) AS fp,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(text), '\\s+')) END AS nt
    FROM documents
),
agg AS (
    SELECT COUNT(*) AS n_docs, SUM(nt) AS n_tokens,
           COUNT(DISTINCT fp) AS n_distinct, COUNT(DISTINCT lang) AS n_langs,
           quantile_cont(nt, CAST(0.5 AS DOUBLE)) AS p50,
           SUM(CASE WHEN nt = 0 THEN 1 ELSE 0 END) AS n_empty
    FROM per
)
SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM agg
UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM agg
UNION ALL SELECT 'n_distinct_contents', CAST(n_distinct AS DOUBLE) FROM agg
UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM agg
UNION ALL SELECT 'p50_doc_tokens', ROUND(p50, 6) FROM agg
UNION ALL SELECT 'exact_dup_fraction', ROUND(1.0 - CAST(n_distinct AS DOUBLE) / n_docs, 6) FROM agg
UNION ALL SELECT 'mean_doc_tokens', ROUND(CAST(n_tokens AS DOUBLE) / n_docs, 6) FROM agg
UNION ALL SELECT 'empty_doc_fraction', ROUND(CAST(n_empty AS DOUBLE) / n_docs, 6) FROM agg
"""


def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order status and priority — the
    column-dependence audit (per-cell decomposition; total MI =
    SUM(mi_term))."""
    from data_quality_checks_in_relational_database_spark.operators.profile import (
        mutual_information,
    )

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return mutual_information(o, "o_orderstatus", "o_orderpriority")


ORACLE_MUTUAL_INFO = """
WITH cells AS (
    SELECT o_orderstatus AS a, o_orderpriority AS b, COUNT(*) AS n
    FROM orders
    WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
    GROUP BY 1, 2
),
ma AS (SELECT a, SUM(n) AS n_a FROM cells GROUP BY a),
mb AS (SELECT b, SUM(n) AS n_b FROM cells GROUP BY b),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM cells)
SELECT cells.a, cells.b, cells.n,
       ROUND(CAST(cells.n AS DOUBLE) / t, 6) AS p_ab,
       ROUND((CAST(cells.n AS DOUBLE) / t)
             * LN((CAST(cells.n AS DOUBLE) / t)
                  / ((CAST(n_a AS DOUBLE) / t) * (CAST(n_b AS DOUBLE) / t))), 6)
           AS mi_term
FROM cells JOIN ma USING (a) JOIN mb USING (b), tot
"""


_SUGGEST_COLS = ("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")


def q_suggest_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suggestion over orders: the candidate rule suite the
    data currently satisfies (not_null / unique / accepted_values /
    numeric_range), bootstrapped from one stacked profiling scan."""
    from data_quality_checks_in_relational_database_spark.operators.rules import (
        suggest_rules,
    )

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return suggest_rules(o, list(_SUGGEST_COLS))


def _oracle_suggest_rules(cols: tuple[str, ...], cap: int = 10) -> str:
    stacked = "\n    UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS value FROM orders" for c in cols
    )
    return f"""
WITH stacked AS (
    {stacked}
),
counts AS (SELECT col, value, COUNT(*) AS n FROM stacked GROUP BY 1, 2),
stats AS (
    SELECT col,
           SUM(n) AS n_rows,
           SUM(CASE WHEN value IS NULL THEN n ELSE 0 END) AS n_null,
           SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS n_distinct,
           SUM(CASE WHEN value IS NOT NULL AND TRY_CAST(value AS DOUBLE) IS NOT NULL
                    THEN n ELSE 0 END) AS n_numeric,
           MIN(CAST(round(TRY_CAST(value AS DOUBLE) * 1000000) AS BIGINT)) AS micro_min,
           MAX(CAST(round(TRY_CAST(value AS DOUBLE) * 1000000) AS BIGINT)) AS micro_max
    FROM counts GROUP BY 1
),
acc AS (
    SELECT c.col, string_agg(DISTINCT value, '|' ORDER BY value) AS acc_param
    FROM counts c
    JOIN (SELECT col FROM stats
          WHERE n_distinct > 0 AND n_distinct <= {cap}) u USING (col)
    WHERE value IS NOT NULL
    GROUP BY c.col
)
SELECT col AS "column", 'not_null' AS rule, '' AS param FROM stats WHERE n_null = 0
UNION ALL
SELECT col, 'unique', '' FROM stats
WHERE n_rows - n_null > 0 AND n_distinct = n_rows - n_null
UNION ALL
SELECT col, 'accepted_values', acc_param FROM acc
UNION ALL
SELECT col, 'numeric_range',
       CAST(micro_min AS VARCHAR) || '..' || CAST(micro_max AS VARCHAR)
FROM stats WHERE n_rows - n_null > 0 AND n_numeric = n_rows - n_null
"""


ORACLE_SUGGEST_RULES = _oracle_suggest_rules(_SUGGEST_COLS)


_SHAPE_COLS = ("o_orderpriority", "o_orderdate", "o_totalprice")


def q_pattern_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-shape profile of orders columns (digits→9, lower→a,
    upper→A): the mixed-format / stray-scheme detector."""
    from data_quality_checks_in_relational_database_spark.operators.profile import (
        pattern_profile,
    )

    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    return pattern_profile(o, list(_SHAPE_COLS))


def _oracle_pattern_profile(cols: tuple[str, ...], top_k: int = 5) -> str:
    stacked = "\n    UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS VARCHAR) AS value FROM orders" for c in cols
    )
    return f"""
WITH stacked AS (
    {stacked}
),
shapes AS (
    SELECT col,
           regexp_replace(regexp_replace(regexp_replace(value, '[0-9]', '9', 'g'),
                                         '[a-z]', 'a', 'g'),
                          '[A-Z]', 'A', 'g') AS shape
    FROM stacked WHERE value IS NOT NULL
),
counts AS (SELECT col, shape, COUNT(*) AS n FROM shapes GROUP BY 1, 2),
tot AS (SELECT col, SUM(n) AS tot FROM counts GROUP BY col)
SELECT col AS "column", shape, n,
       ROUND(CAST(n AS DOUBLE) / tot, 6) AS share, rank
FROM (
    SELECT c.col, c.shape, c.n, t.tot,
           CAST(ROW_NUMBER() OVER (PARTITION BY c.col
                                   ORDER BY c.n DESC, c.shape ASC) AS BIGINT) AS rank
    FROM counts c JOIN tot t USING (col)
) WHERE rank <= {top_k}
"""


ORACLE_PATTERN_PROFILE = _oracle_pattern_profile(_SHAPE_COLS)


def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection of the 64-dim embeddings to 16
    dims (md5-derived ±1 signs — the oracle reproduces the projection
    bit-for-bit)."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    return sim.jl_project(emb, in_dim=64, out_dim=16)


def _oracle_jl_project(in_dim: int = 64, out_dim: int = 16) -> str:
    signs = sim.jl_signs(in_dim, out_dim)
    scale = float(out_dim) ** 0.5
    selects = "\nUNION ALL ".join(
        "SELECT vec_id, CAST({i} AS BIGINT) AS dim, "
        "ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), [{s}]) / {sc!r}, 6) AS value "
        "FROM embeddings".format(
            i=i, s=", ".join(f"{float(x)!r}" for x in signs[i]), sc=scale
        )
        for i in range(out_dim)
    )
    return selects


ORACLE_JL_PROJECT = _oracle_jl_project()


def q_cdc_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log compaction over events: latest event per user wins
    (ties broken by event_id), users whose latest event is an `error`
    drop out — the Debezium-style snapshot build."""
    from data_quality_checks_in_relational_database_spark.operators.diff import cdc_compact

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    ops = ev.withColumn(
        "op",
        F.when(F.col("event_type") == "error", "delete").otherwise("upsert"),
    )
    state = cdc_compact(ops, "user_id", "ts", "event_id", "op")
    return state.select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.round("value", 6).alias("value"),
    )


ORACLE_CDC_STATE = """
SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
       ROUND(value, 6) AS value
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1 AND event_type != 'error'
"""


def q_pareto_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC contribution analysis of revenue by nation:
    cumulative share in descending-revenue order, A/B/C classes at
    70% / 90% cumulative. Integer-cents money end-to-end; the
    unpartitioned cumulative window runs over the BOUNDED nation
    rollup (25 rows), not raw data."""
    from data_quality_checks_in_relational_database_spark.functions.scalars import money_sum
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ("orders", "customer", "nation"))
    rev = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(money_sum("o_totalprice").alias("revenue"))
    )
    cents = F.round(F.col("revenue") * 100).cast("long")
    w = Window.orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    tot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = F.sum(cents).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    share = cum / F.sum(cents).over(tot)
    return rev.select(
        "n_name",
        "revenue",
        F.round(share, 6).alias("cum_share"),
        F.when(share <= 0.7, "A").when(share <= 0.9, "B").otherwise("C").alias(
            "abc_class"
        ),
    )


ORACLE_PARETO_NATIONS = """
WITH rev AS (
    SELECT n_name,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
),
c AS (
    SELECT n_name, cents,
           SUM(cents) OVER (ORDER BY cents / 100.0 DESC, n_name ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           SUM(cents) OVER () AS tot
    FROM rev
)
SELECT n_name, cents / 100.0 AS revenue,
       ROUND(CAST(cum AS DOUBLE) / tot, 6) AS cum_share,
       CASE WHEN CAST(cum AS DOUBLE) / tot <= 0.7 THEN 'A'
            WHEN CAST(cum AS DOUBLE) / tot <= 0.9 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c
"""


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 3-event behavioral paths (counted once per user)."""
    from data_quality_checks_in_relational_database_spark.operators.funnel import top_event_paths

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return top_event_paths(ev, "user_id", "ts", "event_id", "event_type")


ORACLE_EVENT_PATHS = """
WITH seqs AS (
    SELECT user_id, list(event_type ORDER BY ts, event_id) AS t
    FROM events GROUP BY user_id
),
paths AS (
    SELECT UNNEST(list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])) AS path
    FROM seqs WHERE len(t) >= 3
),
counts AS (SELECT path, COUNT(*) AS n_users FROM paths GROUP BY path)
SELECT rank, path, n_users FROM (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_users DESC, path ASC) AS BIGINT) AS rank,
           path, n_users
    FROM counts
) WHERE rank <= 10
"""


def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → purchase time-to-convert summary (integer-second lags,
    strict at-or-after ordering)."""
    from data_quality_checks_in_relational_database_spark.operators.funnel import conversion_lag

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return conversion_lag(ev, "user_id", "ts", "event_type", "signup", "purchase")


ORACLE_CONVERSION_LAG = """
WITH t0s AS (
    SELECT user_id,
           MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END) AS t0
    FROM events GROUP BY user_id
),
conv AS (
    SELECT t0s.user_id, t0,
           MIN(CASE WHEN e.ts1 >= t0 THEN e.ts1 END) AS t_conv
    FROM t0s LEFT JOIN (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts1 FROM events
        WHERE event_type = 'purchase'
    ) e USING (user_id)
    GROUP BY t0s.user_id, t0
),
lags AS (
    SELECT CAST(FLOOR(CAST(epoch_us(t_conv) - epoch_us(t0) AS DOUBLE) / 1000000) AS BIGINT) AS lag_s
    FROM conv WHERE t0 IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_start,
       CAST(COUNT(lag_s) AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(lag_s) AS DOUBLE) / COUNT(lag_s), 6) AS mean_lag_s,
       ROUND(quantile_cont(lag_s, CAST(0.5 AS DOUBLE)), 6) AS p50_lag_s,
       MIN(lag_s) AS min_lag_s,
       MAX(lag_s) AS max_lag_s
FROM lags
"""


_QQ_PS = [round(0.1 * i, 1) for i in range(1, 10)]


def q_qq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile drift table between the orders snapshot and
    the deterministically shifted 'next load' (same derivation as
    q_drift_psi): exact interpolated deciles of both sides, per-decile
    shift. PSI/KS/W1 say HOW MUCH a distribution moved; this says
    WHERE. Two distributed percentile aggregations (one row each)
    joined — no sort, no row-level join."""
    o = load_tables(spark, sf_dir, ("orders",))["orders"]
    current = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 1.1).otherwise(
            F.col("o_totalprice")
        ),
    )

    def deciles(df: DataFrame, side: str) -> DataFrame:
        aggs = [
            F.round(
                F.expr(f"percentile(o_totalprice, CAST({p!r} AS DOUBLE))"), 6
            ).alias(f"{side}{i}")
            for i, p in enumerate(_QQ_PS)
        ]
        return df.agg(*aggs)

    wide = deciles(o, "b").crossJoin(F.broadcast(deciles(current, "c")))
    rows = F.array(
        *[
            F.struct(
                F.lit(p).alias("p"),
                F.col(f"b{i}").alias("base_q"),
                F.col(f"c{i}").alias("curr_q"),
                F.round(F.col(f"c{i}") - F.col(f"b{i}"), 6).alias("shift"),
            )
            for i, p in enumerate(_QQ_PS)
        ]
    )
    return wide.select(F.inline(rows))


ORACLE_QQ_DRIFT = """
WITH curr AS (
    SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.1
           ELSE o_totalprice END AS v
    FROM orders
),
b AS (SELECT {sel_b} FROM orders),
c AS (SELECT {sel_c} FROM curr)
SELECT p, base_q, curr_q, ROUND(curr_q - base_q, 6) AS shift FROM (
    {unions}
)
""".format(
    sel_b=", ".join(
        f"ROUND(quantile_cont(o_totalprice, CAST({p!r} AS DOUBLE)), 6) AS b{i}"
        for i, p in enumerate(_QQ_PS)
    ),
    sel_c=", ".join(
        f"ROUND(quantile_cont(v, CAST({p!r} AS DOUBLE)), 6) AS c{i}"
        for i, p in enumerate(_QQ_PS)
    ),
    unions="\n    UNION ALL ".join(
        f"SELECT {p!r} AS p, b{i} AS base_q, c{i} AS curr_q FROM b, c"
        for i, p in enumerate(_QQ_PS)
    ),
)


ORACLE_SOURCE_LM_QUALITY = f"""
WITH lm AS ({ORACLE_LM_SCORE}),
j AS (SELECT lm.*, d.source FROM lm JOIN documents d USING (doc_id))
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(SUM(CAST(round(avg_logprob * 1000000, 0) AS BIGINT))
             / (COUNT(*) * 1000000.0), 6) AS mean_logprob,
       ROUND(quantile_cont(avg_logprob, 0.5), 6) AS median_logprob,
       MIN(avg_logprob) AS min_logprob,
       MAX(avg_logprob) AS max_logprob
FROM j
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (fully differential: md5-derived hashes)
# ---------------------------------------------------------------------------


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by count-min-sketch ESTIMATED event count, with the
    exact count, the overestimate, and the sketch's epsilon-bound check
    alongside. The sketch is md5-derived, so the oracle rebuilds the
    identical d=4 x w=512 counter matrix and takes the same minima —
    the approximate operator is hash-checked end-to-end (the
    quantized_topk pattern)."""
    from data_quality_checks_in_relational_database_spark.operators.sketch import cms_topk

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return cms_topk(ev, "user_id", k=20, depth=4, width=512)


def _oracle_cms(depth: int = 4, width: int = 512, k: int = 20) -> str:
    def bucket(expr: str, r: int) -> str:
        return (
            f"CAST(CAST('0x' || substr(md5('{r}_' || {expr}), 1, 15) AS BIGINT)"
            f" % {width} AS BIGINT)"
        )

    probes = "\nUNION ALL ".join(
        f"SELECT {r} AS row, {bucket('CAST(user_id AS VARCHAR)', r)} AS bucket FROM events"
        for r in range(depth)
    )
    key_probes = "\nUNION ALL ".join(
        f"SELECT key, exact_count, {r} AS row, {bucket('key', r)} AS bucket FROM keys"
        for r in range(depth)
    )
    return f"""
WITH counters AS MATERIALIZED (
    SELECT row, bucket, COUNT(*) AS cnt FROM ({probes}) GROUP BY row, bucket
),
keys AS MATERIALIZED (
    SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS exact_count
    FROM events GROUP BY user_id
),
est AS (
    SELECT kp.key, kp.exact_count, MIN(c.cnt) AS est_count
    FROM ({key_probes}) kp
    JOIN counters c ON c.row = kp.row AND c.bucket = kp.bucket
    GROUP BY kp.key, kp.exact_count
),
n AS (SELECT CEIL(2.718281828459045 / {width} * COUNT(*)) AS bound FROM events)
SELECT key,
       CAST(est_count AS BIGINT) AS est_count,
       CAST(exact_count AS BIGINT) AS exact_count,
       CAST(est_count - exact_count AS BIGINT) AS overestimate,
       (est_count - exact_count) <= (SELECT bound FROM n) AS within_bound
FROM est
ORDER BY est_count DESC, key ASC
LIMIT {k}
"""


ORACLE_CMS_HEAVY_HITTERS = _oracle_cms()


# ---------------------------------------------------------------------------
# Normalized ("fuzzy-exact") dedup
# ---------------------------------------------------------------------------


def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-group report after text normalization (lowercase,
    punctuation strip, whitespace collapse) — catches trivially
    reformatted duplicates byte-exact dedup misses, at exact-dedup
    cost (one fingerprint shuffle)."""
    from data_quality_checks_in_relational_database_spark.operators.dedup import (
        normalized_dedup_report,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return normalized_dedup_report(docs)


ORACLE_NORMALIZED_DEDUP = r"""
WITH fp AS (
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 \t\n\r]', '', 'g'), '[ \t\n\r]+', ' ', 'g'))) AS nfp
    FROM documents
),
groups AS (
    SELECT nfp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_members
    FROM fp GROUP BY nfp
)
SELECT fp.doc_id,
       CAST(g.canonical_id AS BIGINT) AS canonical_id,
       CAST(g.n_members AS BIGINT) AS n_members,
       fp.doc_id = g.canonical_id AS is_canonical
FROM fp JOIN groups g USING (nfp)
"""


# ---------------------------------------------------------------------------
# Event-type co-occurrence lift (market-basket association)
# ---------------------------------------------------------------------------


def q_event_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise lift between event types over users: which behaviors
    travel together more than independence predicts — feature
    discovery plus a DQ probe (impossible pairings with high lift flag
    instrumentation bugs)."""
    from data_quality_checks_in_relational_database_spark.operators.cooccur import (
        cooccurrence_lift,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return cooccurrence_lift(ev, "user_id", "event_type", min_pair_entities=2)


ORACLE_EVENT_PAIR_LIFT = """
WITH pres AS (SELECT DISTINCT user_id AS e, CAST(event_type AS VARCHAR) AS i FROM events),
marg AS (SELECT i, COUNT(*) AS n FROM pres GROUP BY i),
tot AS (SELECT CAST(COUNT(DISTINCT e) AS DOUBLE) AS n_entities FROM pres),
pair AS (
    SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_ab
    FROM pres a JOIN pres b ON a.e = b.e AND a.i < b.i
    GROUP BY a.i, b.i
    HAVING COUNT(*) >= 2
)
SELECT item_a, item_b,
       CAST(ma.n AS BIGINT) AS n_a,
       CAST(mb.n AS BIGINT) AS n_b,
       CAST(n_ab AS BIGINT) AS n_ab,
       ROUND(n_ab * (SELECT n_entities FROM tot) / (ma.n * mb.n), 6) AS lift
FROM pair
JOIN marg ma ON ma.i = item_a
JOIN marg mb ON mb.i = item_b
"""


# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy pairs -> components -> canonical ids
# ---------------------------------------------------------------------------


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage closed end-to-end: blocked edit-distance pairs
    over part names (the ``fuzzy_parts`` stage) fed into connected
    components — every linked record gets a canonical entity id (the
    component's min key), the step that turns pairwise matches into a
    usable master-data table. Same composition shape as
    ``dedup_clusters``; oracle closes the pair graph with a recursive
    CTE over the identical levenshtein pair query."""
    from data_quality_checks_in_relational_database_spark.operators.cluster import (
        dedup_clusters,
    )
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        blocked_fuzzy_pairs,
    )

    part = load_tables(spark, sf_dir, ("part",))["part"]
    pairs = blocked_fuzzy_pairs(
        part,
        text_col="p_name",
        id_col="p_partkey",
        block_cols=[F.col("p_brand"), F.split(F.col("p_name"), " ").getItem(0)],
        max_dist=2,
    )
    return dedup_clusters(pairs, "id_a", "id_b").select(
        F.col("doc_id").alias("p_partkey"),
        F.col("cluster_id").alias("entity_id"),
        F.col("cluster_size").alias("entity_size"),
        F.col("is_representative").alias("is_canonical"),
    )


ORACLE_ENTITY_RESOLUTION = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({ORACLE_FUZZY_PARTS}),
edges AS MATERIALIZED (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, MIN(label) AS entity_id FROM reach GROUP BY node),
sized AS (SELECT entity_id, COUNT(*) AS entity_size FROM comp GROUP BY entity_id)
SELECT c.node AS p_partkey, c.entity_id, CAST(s.entity_size AS BIGINT) AS entity_size,
       c.node = c.entity_id AS is_canonical
FROM comp c JOIN sized s USING (entity_id)
"""


# ---------------------------------------------------------------------------
# Per-source duplication rate + dedup-graph degree diagnostics
# ---------------------------------------------------------------------------


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate mass per source — the corpus-curation triage
    view (which crawl/feed is flooding the corpus with copies). One
    fingerprint aggregation: (source, n_docs, n_distinct, n_dup_docs,
    dup_rate) with dup_rate = 1 − distinct/docs, 6dp."""
    from data_quality_checks_in_relational_database_spark.operators.text import (
        fingerprint,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    fp = fingerprint(docs).join(docs.select("doc_id", "source"), "doc_id")
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("fingerprint").cast("long").alias("n_distinct"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct",
            (F.col("n_docs") - F.col("n_distinct")).cast("long").alias("n_dup_docs"),
            F.round(1.0 - F.col("n_distinct") / F.col("n_docs"), 6).alias("dup_rate"),
        )
    )


ORACLE_DUP_RATE_BY_SOURCE = f"""
WITH fp AS (
    SELECT source, md5(array_to_string({_TOKS}, ' ')) AS f FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT f) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT f) AS BIGINT) AS n_dup_docs,
       ROUND(1.0 - COUNT(DISTINCT f) / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
FROM fp GROUP BY source
"""


def q_dedup_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the near-dup pair graph — the banding-tuning
    diagnostic: a fat tail (one node in thousands of pairs) means a
    boilerplate/stop-shingle cluster that will dominate candidate
    verification and clustering cost; the fix is a doc-frequency cap or
    a tighter threshold BEFORE scaling up. Pairs come from the
    MinHash-LSH path (≡ exact at this threshold, recall pytest-pinned);
    the oracle recomputes degrees from the exact pair SQL."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.5)
    deg = (
        pairs.select(F.col("doc_id_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .select(F.col("degree").cast("long"), "n_nodes")
    )


ORACLE_DEDUP_GRAPH_STATS = f"""
WITH pairs AS ({ORACLE_NGRAM_JACCARD}),
deg AS (
    SELECT node, COUNT(*) AS degree FROM (
        SELECT doc_id_a AS node FROM pairs
        UNION ALL
        SELECT doc_id_b FROM pairs
    ) GROUP BY node
)
SELECT CAST(degree AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree
"""


# ---------------------------------------------------------------------------
# Media dedup: exact payload groups + frame-fingerprint overlap pairs
# ---------------------------------------------------------------------------


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup over the opaque payload column: one md5
    shuffle, (payload_md5, group_size, representative media_id) — the
    binary twin of ``dedup_exact`` (hashes travel, payload bytes never
    shuffle)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    media = mm.documents_as_media(docs)
    return (
        media.select("media_id", F.md5("payload").alias("payload_md5"))
        .groupBy("payload_md5")
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.min("media_id").alias("representative_id"),
        )
    )


ORACLE_MEDIA_DEDUP = """
SELECT md5(text) AS payload_md5,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       MIN(doc_id) AS representative_id
FROM documents GROUP BY 1
"""
# (DuckDB md5(VARCHAR) hashes the UTF-8 bytes — identical to Spark's
# md5(encode(text,'UTF-8')) payload hash.)


def q_frame_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style near-dup by SHARED FRAMES: sample frames from each
    payload (deterministic byte-slice stand-in for keyframe
    extraction), fingerprint each frame, and pair media sharing ≥ 2
    distinct frame fingerprints — the frame-overlap recipe real video
    dedup uses (two re-encodes of one clip share keyframe hashes). The
    inverted-index join shuffles 128-bit hashes only; frame bytes stay
    on the executor that sliced them. The oracle replays the byte
    slicing with BLOB substrings."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    frames = mm.sample_frames(mm.documents_as_media(docs), every_n_bytes=64, max_frames=8)
    inv = frames.select(
        F.col("media_id").alias("mid"), F.md5("frame_payload").alias("fh")
    ).distinct()
    a, b = inv.alias("a"), inv.alias("b")
    return (
        a.join(b, (F.col("a.fh") == F.col("b.fh")) & (F.col("a.mid") < F.col("b.mid")))
        .groupBy(F.col("a.mid").alias("media_id_a"), F.col("b.mid").alias("media_id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared_frames"))
        .filter(F.col("shared_frames") >= 2)
    )


# sample_frames slices bytes [i*64, (i+1)*64) for i < min(8, max(1, len//64)).
# This DuckDB's substring/md5 are VARCHAR-only (character-based), which
# equals the Spark side's byte slicing because the corpus is pure ASCII
# (octet_length == length asserted for every sf dir); the Spark
# operator itself is byte-true for any payload.
ORACLE_FRAME_OVERLAP_PAIRS = """
WITH media AS (
    SELECT doc_id AS mid, text AS payload FROM documents
),
frames AS (
    SELECT mid, i, substring(payload, CAST(i * 64 + 1 AS BIGINT), 64) AS fp
    FROM media,
         UNNEST(range(0, least(8, greatest(1, length(payload) // 64)))) AS t(i)
),
inv AS (SELECT DISTINCT mid, md5(fp) AS fh FROM frames)
SELECT a.mid AS media_id_a, b.mid AS media_id_b,
       CAST(COUNT(*) AS BIGINT) AS shared_frames
FROM inv a JOIN inv b ON a.fh = b.fh AND a.mid < b.mid
GROUP BY 1, 2
HAVING COUNT(*) >= 2
"""


# ---------------------------------------------------------------------------
# Deterministic train/val/test hash split + winsorized robust stats
# ---------------------------------------------------------------------------


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by md5(doc_id):
    the standard leakage-safe split for training corpora — membership
    is a pure function of the id, so re-runs, backfills, and other
    engines (the oracle) agree row-for-row, and adding documents never
    reshuffles existing assignments. Output: per (split, lang) doc and
    token mass — what a data card reports per split. Map-only + one
    bounded aggregation."""
    from data_quality_checks_in_relational_database_spark.operators.text import (
        token_count,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    # md5 low-60-bit uniform in [0, 1): engine-portable (no RNG state)
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("double") / F.lit(float(1 << 60))
    split = (
        F.when(u < 0.8, F.lit("train")).when(u < 0.9, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang", token_count(F.col("text")).alias("nt"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )


ORACLE_HASH_SPLIT = f"""
WITH assigned AS (
    SELECT lang,
           len(list_filter({_TOKS}, t -> t != '')) AS nt,
           CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) AS DOUBLE)
             / 1152921504606846976.0 AS u
    FROM documents
)
SELECT CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split,
       lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nt) AS BIGINT) AS n_tokens
FROM assigned
GROUP BY 1, 2
"""


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier-robust price stats per order status: exact p01/p99
    percentiles (distributed sort-based aggregate, broadcast back),
    values clamped to them, then integer-cent mean — the winsorized
    moments robust feature pipelines use instead of raw means. Two
    bounded aggregations; no single-partition window."""
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    bounds = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.01)).alias("p01"),
        F.percentile("o_totalprice", F.lit(0.99)).alias("p99"),
    )
    clamped = orders.join(F.broadcast(bounds), "o_orderstatus").select(
        "o_orderstatus",
        "p01",
        "p99",
        F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99")).alias("w"),
    )
    cents = F.round(F.col("w") * 100, 0).cast("long")
    return clamped.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.min("p01"), 6).alias("p01"),
        F.round(F.min("p99"), 6).alias("p99"),
        (F.sum(cents) / F.count(F.lit(1)) / 100.0).alias("winsorized_mean"),
    )


ORACLE_WINSORIZED_STATS = """
WITH bounds AS (
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.01) AS p01,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders GROUP BY o_orderstatus
),
clamped AS (
    SELECT o.o_orderstatus, b.p01, b.p99,
           least(greatest(o.o_totalprice, b.p01), b.p99) AS w
    FROM orders o JOIN bounds b USING (o_orderstatus)
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(MIN(p01), 6) AS p01,
       ROUND(MIN(p99), 6) AS p99,
       SUM(CAST(ROUND(w * 100, 0) AS BIGINT)) / COUNT(*) / 100.0 AS winsorized_mean
FROM clamped
GROUP BY o_orderstatus
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the top-100 terms: OLS slope of
    ln(count) on ln(rank) — natural corpora sit near −1; a flat slope
    flags templated/synthetic text, a cliff flags boilerplate flooding.
    Term counting is one map-side-combined aggregation; the regression
    runs on the bounded top-k (distributed TakeOrdered, then one
    ``regr_slope`` aggregate row)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from data_quality_checks_in_relational_database_spark.operators.text import tokens

    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counts.orderBy(F.col("c").desc(), F.col("term").asc()).limit(100)
    from pyspark.sql.window import Window

    ranked = top.withColumn(
        "rank",
        F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("term").asc())),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.round(F.regr_slope(F.log("c"), F.log("rank")), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(F.log("c"), F.log("rank")), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(F.log("c"), F.log("rank")), 6).alias("r2"),
    )


ORACLE_ZIPF_FIT = f"""
WITH counts AS (
    SELECT t AS term, COUNT(*) AS c FROM (
        SELECT UNNEST(list_filter({_TOKS}, x -> x != '')) AS t FROM documents
    ) GROUP BY t
),
ranked AS (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS rank
    FROM counts ORDER BY c DESC, term ASC LIMIT 100
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
       ROUND(regr_slope(ln(c), ln(rank)), 6) AS zipf_slope,
       ROUND(regr_intercept(ln(c), ln(rank)), 6) AS zipf_intercept,
       ROUND(regr_r2(ln(c), ln(rank)), 6) AS r2
FROM ranked
"""


# ---------------------------------------------------------------------------
# CEP pattern with negation: A then B within a window, no C between
# ---------------------------------------------------------------------------


def q_cep_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event pattern with NEGATION — the MATCH_RECOGNIZE shape
    funnels can't express: per user, count (view, purchase) pairs where
    the purchase lands within 1 hour of the view and NO error event
    falls strictly between them. Negative conditions ("nothing bad in
    the gap") are the workhorse of fraud/UX CEP rules.

    Scale shape: events project to (user, type, ts) once; the
    view×purchase pair join and the error anti-join are both keyed on
    user_id — three co-partitioned shuffles on the same key, pair
    fan-out bounded by events-per-user × window selectivity, never a
    global theta join. Microsecond-integer comparisons end-to-end."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    base = ev.select(
        "user_id", "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("t")
    )
    w_us = 3600 * 1_000_000
    v = base.filter(F.col("event_type") == "view").select("user_id", F.col("t").alias("vt"))
    p = base.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("t").alias("pt")
    )
    e = base.filter(F.col("event_type") == "error").select("user_id", F.col("t").alias("et"))
    pairs = v.join(p, "user_id").filter(
        (F.col("pt") >= F.col("vt")) & (F.col("pt") <= F.col("vt") + F.lit(w_us))
    )
    clean = pairs.join(
        e,
        (pairs["user_id"] == e["user_id"])
        & (e["et"] > pairs["vt"])
        & (e["et"] < pairs["pt"]),
        "left_anti",
    )
    return (
        clean.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clean_pairs"))
    )


ORACLE_CEP_PATTERN = """
WITH base AS (
    SELECT user_id, event_type, epoch_us(ts) AS t FROM events
),
pairs AS (
    SELECT v.user_id, v.t AS vt, p.t AS pt
    FROM base v JOIN base p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.t >= v.t AND p.t <= v.t + 3600000000
)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_clean_pairs
FROM pairs pr
WHERE NOT EXISTS (
    SELECT 1 FROM base e
    WHERE e.user_id = pr.user_id AND e.event_type = 'error'
      AND e.t > pr.vt AND e.t < pr.pt
)
GROUP BY user_id
"""


def q_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance audit of the labeled embedding set: per-label
    counts, share, and the global imbalance ratio + normalized entropy
    (1.0 = perfectly balanced) — the first dataset-QA check before any
    classifier training. One bounded aggregation; NULL labels reported
    as their own row (a silent labeling gap is the finding)."""
    emb = load_tables(spark, sf_dir, ("embeddings",))["embeddings"]
    per = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = per.agg(
        F.sum("n").alias("n_total"),
        F.max("n").alias("n_max"),
        F.min("n").alias("n_min"),
        F.count(F.lit(1)).alias("k"),
        # natural-log entropy of the label distribution
        F.sum(F.col("n") * F.log("n")).alias("sum_nlogn"),
    )
    ent = (F.log(F.col("n_total")) - F.col("sum_nlogn") / F.col("n_total")) / F.log(
        F.col("k").cast("double")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "label",
        F.col("n").cast("long").alias("n_vecs"),
        F.round(F.col("n") / F.col("n_total"), 6).alias("share"),
        F.round(F.col("n_max") / F.col("n_min"), 6).alias("imbalance_ratio"),
        F.round(ent, 6).alias("balance_entropy"),
    )


ORACLE_LABEL_BALANCE = """
WITH per AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
tot AS (
    SELECT SUM(n) AS n_total, MAX(n) AS n_max, MIN(n) AS n_min,
           COUNT(*) AS k, SUM(n * ln(n)) AS sum_nlogn
    FROM per
)
SELECT label,
       CAST(n AS BIGINT) AS n_vecs,
       ROUND(n / CAST(n_total AS DOUBLE), 6) AS share,
       ROUND(n_max / CAST(n_min AS DOUBLE), 6) AS imbalance_ratio,
       ROUND((ln(n_total) - sum_nlogn / n_total) / ln(CAST(k AS DOUBLE)), 6) AS balance_entropy
FROM per, tot
"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: cumulative distinct-term count at
    10 corpus checkpoints (by doc_id order) plus the OLS fit of
    ln(vocab) on ln(tokens) — natural text grows with slope β≈0.5-0.7;
    a flat curve flags templated/duplicated corpora, a slope near 1
    flags id/hash-like "words" inflating the vocab.

    Scale shape: the corpus reduces ONCE to (term → first doc_id,
    token position mass); cumulative vocab at a checkpoint is then
    COUNT(first_doc_id ≤ cutoff) — no per-checkpoint rescan of text.
    """
    from data_quality_checks_in_relational_database_spark.operators.text import (
        token_count,
        tokens,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    firsts = (
        docs.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    cuts = docs.select(
        F.percentile("doc_id", F.array(*[F.lit(i / 10.0) for i in range(1, 11)])).alias("cs")
    ).select(F.posexplode("cs").alias("i", "cut"))
    toks = docs.select("doc_id", token_count(F.col("text")).alias("nt"))
    points = (
        firsts.crossJoin(F.broadcast(cuts))
        .filter(F.col("first_doc") <= F.col("cut"))
        .groupBy("i", "cut")
        .agg(F.count(F.lit(1)).alias("vocab"))
        .join(
            toks.crossJoin(F.broadcast(cuts))
            .filter(F.col("doc_id") <= F.col("cut"))
            .groupBy("i")
            .agg(F.sum("nt").alias("tokens")),
            "i",
        )
    )
    return points.agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(F.regr_slope(F.log("vocab"), F.log("tokens")), 6).alias("heaps_beta"),
        F.round(F.regr_intercept(F.log("vocab"), F.log("tokens")), 6).alias("heaps_lnk"),
        F.max("vocab").cast("long").alias("final_vocab"),
        F.max("tokens").cast("long").alias("final_tokens"),
    )


# DuckDB quantile_cont requires CONSTANT fractions — unroll the 10
# checkpoints (i matches Spark's posexplode 0-based index)
_VOCAB_CUTS = "\nUNION ALL ".join(
    f"SELECT {i} AS i, quantile_cont(doc_id, {(i + 1) / 10.0!r}) AS cut FROM documents"
    for i in range(10)
)

ORACLE_VOCAB_GROWTH = f"""
WITH firsts AS (
    SELECT t AS term, MIN(doc_id) AS first_doc FROM (
        SELECT doc_id, UNNEST(list_filter({_TOKS}, x -> x != '')) AS t FROM documents
    ) GROUP BY t
),
cuts AS (
    {_VOCAB_CUTS}
),
toks AS (SELECT doc_id, len(list_filter({_TOKS}, x -> x != '')) AS nt FROM documents),
points AS (
    SELECT c.i, c.cut,
           (SELECT COUNT(*) FROM firsts f WHERE f.first_doc <= c.cut) AS vocab,
           (SELECT SUM(nt) FROM toks tk WHERE tk.doc_id <= c.cut) AS tokens
    FROM cuts c
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(regr_slope(ln(vocab), ln(tokens)), 6) AS heaps_beta,
       ROUND(regr_intercept(ln(vocab), ln(tokens)), 6) AS heaps_lnk,
       CAST(MAX(vocab) AS BIGINT) AS final_vocab,
       CAST(MAX(tokens) AS BIGINT) AS final_tokens
FROM points
"""


def q_event_disorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder audit — the number that SIZES a watermark:
    treating event_id as arrival order, how often does event time run
    backwards per user, and by how much? Reports per-user-aggregated
    global stats: out-of-order rate and exact p50/p95/p99/max disorder
    lag (seconds a late event trails the running per-user max). A
    watermark narrower than ~p99 disorder silently drops data
    (streaming/lateness.py measures that loss; this predicts it).
    One keyed window pass + one bounded percentile aggregate."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    from pyspark.sql.window import Window

    t = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lag_us = F.max(t).over(w) - t
    lags = ev.select(
        F.when(lag_us > 0, lag_us).otherwise(F.lit(0)).alias("lag_us")
    )
    return lags.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("lag_us") > 0, 1).otherwise(0)).cast("long").alias("n_out_of_order"),
        F.round(F.sum(F.when(F.col("lag_us") > 0, 1).otherwise(0)) / F.count(F.lit(1)), 6).alias("disorder_rate"),
        F.round(F.percentile("lag_us", F.lit(0.5)) / 1e6, 6).alias("p50_lag_s"),
        F.round(F.percentile("lag_us", F.lit(0.95)) / 1e6, 6).alias("p95_lag_s"),
        F.round(F.percentile("lag_us", F.lit(0.99)) / 1e6, 6).alias("p99_lag_s"),
        F.round(F.max("lag_us") / 1e6, 6).alias("max_lag_s"),
    )


ORACLE_EVENT_DISORDER = """
WITH lags AS (
    SELECT GREATEST(COALESCE(MAX(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) - epoch_us(ts), 0), 0) AS lag_us
    FROM events
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN lag_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
       ROUND(SUM(CASE WHEN lag_us > 0 THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE), 6) AS disorder_rate,
       ROUND(quantile_cont(lag_us, 0.5) / 1e6, 6) AS p50_lag_s,
       ROUND(quantile_cont(lag_us, 0.95) / 1e6, 6) AS p95_lag_s,
       ROUND(quantile_cont(lag_us, 0.99) / 1e6, 6) AS p99_lag_s,
       ROUND(MAX(lag_us) / 1e6, 6) AS max_lag_s
FROM lags
"""


# ---------------------------------------------------------------------------
# k-anonymity audit + CUSUM change-point detection
# ---------------------------------------------------------------------------


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (nation × market
    segment): how many equivalence classes fall under k=5 members, and
    how many ROWS are re-identifiable through them — the release gate
    privacy reviews run before sharing row-level data. One group-by on
    the quasi-identifier tuple; the report is bounded by class count,
    with the global summary row (qi='*') alongside per-violating-class
    detail."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    k = 5
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    detail = classes.filter(F.col("n") < k).select(
        F.concat_ws("|", F.col("c_nationkey").cast("string"), "c_mktsegment").alias("qi"),
        F.col("n").cast("long").alias("class_size"),
        F.lit(True).alias("violates_k"),
    )
    summary = classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.min("n").alias("min_class"),
        F.sum(F.when(F.col("n") < k, F.col("n")).otherwise(0)).alias("rows_at_risk"),
    ).select(
        F.lit("*").alias("qi"),
        F.col("min_class").cast("long").alias("class_size"),
        (F.col("rows_at_risk") > 0).alias("violates_k"),
    )
    return detail.unionByName(summary)


ORACLE_K_ANONYMITY = """
WITH classes AS (
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
    FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment AS qi,
       CAST(n AS BIGINT) AS class_size,
       TRUE AS violates_k
FROM classes WHERE n < 5
UNION ALL
SELECT '*', CAST(MIN(n) AS BIGINT),
       SUM(CASE WHEN n < 5 THEN n ELSE 0 END) > 0
FROM classes
"""


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection over the daily event-volume series:
    cumulative sum of deviations from the series mean peaks at the most
    likely level-shift day — the classic sequential test for "when did
    the feed change", catching slow drifts the per-day z-score misses.
    Two bounded passes over the DAILY aggregate (≤ one row per day):
    mean, then windowed cumsum + argmax by |CUSUM| (ties → earliest
    day). Integer counts keep the sums exact."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(F.count(F.lit(1)).alias("n"))
    stats = daily.agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("days")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # exact integer cusum: scale by 'days' to avoid fractional means
    # (cusum_scaled = days*sum(n_i..) - i*tot)
    cum = (
        daily.crossJoin(F.broadcast(stats))
        .withColumn("cum_n", F.sum("n").over(w))
        .withColumn("i", F.row_number().over(Window.orderBy("d")))
        .withColumn(
            "cusum_scaled", F.col("days") * F.col("cum_n") - F.col("i") * F.col("tot")
        )
    )
    peak = cum.orderBy(
        F.abs(F.col("cusum_scaled")).desc(), F.col("d").asc()
    ).limit(1)
    return peak.select(
        F.col("d").alias("change_day"),
        F.col("cusum_scaled").cast("long").alias("cusum_scaled"),
        F.col("days").cast("long").alias("n_days"),
        F.round(F.col("tot") / F.col("days"), 6).alias("mean_daily"),
    )


ORACLE_CUSUM_CHANGEPOINT = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n FROM events GROUP BY 1
),
stats AS (SELECT SUM(n) AS tot, COUNT(*) AS days FROM daily),
cum AS (
    SELECT d,
           (SELECT days FROM stats) * SUM(n) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
             - ROW_NUMBER() OVER (ORDER BY d) * (SELECT tot FROM stats) AS cusum_scaled
    FROM daily
)
SELECT d AS change_day,
       CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
       (SELECT CAST(days AS BIGINT) FROM stats) AS n_days,
       (SELECT ROUND(tot / CAST(days AS DOUBLE), 6) FROM stats) AS mean_daily
FROM cum
ORDER BY ABS(cusum_scaled) DESC, d ASC
LIMIT 1
"""


def q_fuzzy_parts_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass blocked linkage — the recall repair for single-key
    blocking: pass 1 blocks on (brand, first name token), pass 2 on
    (type, LAST name token), so a typo that breaks one pass's
    block key still pairs through the other. Cost is additive per
    pass; output is the deduplicated union (same contract as
    ``fuzzy_parts``). The oracle runs the same two levenshtein joins
    OR-combined."""
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        multi_pass_fuzzy_pairs,
    )

    part = load_tables(spark, sf_dir, ("part",))["part"]
    toks = F.split(F.col("p_name"), " ")
    return multi_pass_fuzzy_pairs(
        part,
        text_col="p_name",
        id_col="p_partkey",
        block_passes=[
            [F.col("p_brand"), toks.getItem(0)],
            [F.col("p_type"), F.element_at(toks, -1)],
        ],
        max_dist=2,
        max_pairs_per_record=_MULTIPASS_PAIR_BUDGET,
    ).select("id_a", "id_b", F.col("dist").cast("long").alias("dist"))


ORACLE_FUZZY_PARTS_MULTIPASS = """
SELECT DISTINCT a.p_partkey AS id_a, b.p_partkey AS id_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
FROM part a JOIN part b
  ON a.p_partkey < b.p_partkey
 AND (
      (a.p_brand = b.p_brand
       AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1))
   OR (a.p_type = b.p_type
       AND split_part(a.p_name, ' ', -1) = split_part(b.p_name, ' ', -1))
 )
WHERE levenshtein(a.p_name, b.p_name) <= 2
"""


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster report through the ALTERNATE components engine:
    large-star/small-star rounds (O(log² n) — the adversarial
    deep-chain path the min-label loop defers to), driver-gated
    against the SAME recursive-CTE oracle as ``dedup_clusters``. Same
    pairs, same report shape; only the iteration strategy differs, so
    a divergence isolates a components bug immediately."""
    from data_quality_checks_in_relational_database_spark.operators.cluster import (
        connected_components_star,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.5)
    comp = connected_components_star(pairs)
    sizes = comp.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "cluster_id").select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        F.col("cluster_size").cast("long"),
        (F.col("node") == F.col("cluster_id")).alias("is_representative"),
    )


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap CI (distributed bootstrap)
# ---------------------------------------------------------------------------

# inverse CDF thresholds of Poisson(1), micro-units (engine-exact
# integer compares): a md5-uniform u maps to replica weight k where
# u < CDF(k). Tail capped at 6 (P > 6 ≈ 1e-4 folded into the cap).
_POIS1_CDF_MICRO = (367879, 735759, 919699, 981012, 996340, 999406, 999917)


def _poisson_weight_spark(u_micro):
    w = F.lit(7)
    for k in range(len(_POIS1_CDF_MICRO) - 1, -1, -1):
        w = F.when(u_micro < _POIS1_CDF_MICRO[k], F.lit(k)).otherwise(w)
    return w


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order value, per
    order status — via the POISSON bootstrap (Chamandy et al., the
    resampling scheme that works when data is sharded and n is unknown
    per partition: each row independently joins replica r with weight
    ~ Poisson(1), no global sampling pass). Deterministic end-to-end:
    uniforms are md5(replica, orderkey) in integer micro-units, the
    inverse-CDF is a literal threshold ladder, and replica means use
    exact integer-cent sums — the oracle replays every step.

    Scale shape: one explode (``sequence(0, B-1)`` — the replica index
    is exploded FIRST and the md5/inverse-CDF ladder is compiled ONCE
    over the exploded rows; unrolling 50 copies of that expression into
    a single projection used to blow janino's 64 KB method limit and
    silently drop the stage to interpreted execution, r4 verdict #5)
    feeding ONE map-side-combined aggregation to (status, replica)
    partial sums — ≤ B× groups rows shuffle; the CI is an exact
    percentile over each status's 50 replica means (bounded)."""
    B = 50
    orders = load_tables(spark, sf_dir, ("orders",))["orders"]
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    u_col = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "_",
                        F.col("rep").cast("string"),
                        F.col("o_orderkey").cast("string"),
                    )
                ),
                1, 15,
            ),
            16, 10,
        ).cast("long") % 1000000
    )
    per_rep = (
        orders.select(
            "o_orderstatus",
            "o_orderkey",
            cents.alias("c"),
            F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("rep"),
        )
        .select(
            "o_orderstatus", "c", "rep",
            _poisson_weight_spark(u_col).cast("long").alias("w"),
        )
        .groupBy("o_orderstatus", "rep")
        .agg(
            F.sum(F.col("w") * F.col("c")).alias("wsum"),
            F.sum("w").alias("wn"),
        )
        .filter(F.col("wn") > 0)
        .select(
            "o_orderstatus",
            (F.col("wsum") / F.col("wn") / 100.0).alias("rep_mean"),
        )
    )
    base = orders.groupBy("o_orderstatus").agg(
        (F.sum(cents) / F.count(F.lit(1)) / 100.0).alias("mean_value"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    ci = per_rep.groupBy("o_orderstatus").agg(
        F.round(F.percentile("rep_mean", F.lit(0.025)), 6).alias("ci_lo"),
        F.round(F.percentile("rep_mean", F.lit(0.975)), 6).alias("ci_hi"),
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
    )
    return base.join(ci, "o_orderstatus").select(
        "o_orderstatus",
        "n_orders",
        F.round("mean_value", 6).alias("mean_value"),
        "ci_lo",
        "ci_hi",
        "n_replicas",
    )


def _oracle_bootstrap_ci(B: int = 50) -> str:
    ladder = "CASE " + " ".join(
        f"WHEN u < {t} THEN {k}" for k, t in enumerate(_POIS1_CDF_MICRO)
    ) + " ELSE 7 END"
    return f"""
WITH expanded AS (
    SELECT o_orderstatus,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c,
           r.i AS rep,
           CAST('0x' || substr(md5(CAST(r.i AS VARCHAR) || '_' || CAST(o_orderkey AS VARCHAR)), 1, 15) AS BIGINT) % 1000000 AS u
    FROM orders, UNNEST(range(0, {B})) AS r(i)
),
weighted AS (SELECT o_orderstatus, rep, c, {ladder} AS w FROM expanded),
per_rep AS (
    SELECT o_orderstatus, rep, SUM(w * c) / CAST(SUM(w) AS DOUBLE) / 100.0 AS rep_mean
    FROM weighted GROUP BY o_orderstatus, rep HAVING SUM(w) > 0
),
base AS (
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) / COUNT(*) / 100.0, 6) AS mean_value
    FROM orders GROUP BY o_orderstatus
),
ci AS (
    SELECT o_orderstatus,
           ROUND(quantile_cont(rep_mean, 0.025), 6) AS ci_lo,
           ROUND(quantile_cont(rep_mean, 0.975), 6) AS ci_hi,
           CAST(COUNT(*) AS BIGINT) AS n_replicas
    FROM per_rep GROUP BY o_orderstatus
)
SELECT b.o_orderstatus, b.n_orders, b.mean_value, c.ci_lo, c.ci_hi, c.n_replicas
FROM base b JOIN ci c USING (o_orderstatus)
"""


ORACLE_BOOTSTRAP_CI = _oracle_bootstrap_ci()


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's sibling gate: within each
    quasi-identifier class (nation), the SENSITIVE attribute (market
    segment) must take at least l=3 distinct values, else membership in
    the class leaks the sensitive value even when the class is large.
    One group-by with a distinct count; per-violating-class detail rows
    plus the global summary row (qi='*'), same report shape as
    ``k_anonymity``."""
    cust = load_tables(spark, sf_dir, ("customer",))["customer"]
    l = 3
    classes = cust.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("c_mktsegment").alias("n_sensitive"),
    )
    detail = classes.filter(F.col("n_sensitive") < l).select(
        F.col("c_nationkey").cast("string").alias("qi"),
        F.col("n").cast("long").alias("class_size"),
        F.col("n_sensitive").cast("long").alias("distinct_sensitive"),
        F.lit(True).alias("violates_l"),
    )
    summary = classes.agg(
        F.min("n_sensitive").alias("min_div"),
        F.sum(F.when(F.col("n_sensitive") < l, F.col("n")).otherwise(0)).alias(
            "rows_at_risk"
        ),
        F.sum("n").alias("total"),
    ).select(
        F.lit("*").alias("qi"),
        F.col("total").cast("long").alias("class_size"),
        F.col("min_div").cast("long").alias("distinct_sensitive"),
        (F.col("rows_at_risk") > 0).alias("violates_l"),
    )
    return detail.unionByName(summary)


ORACLE_L_DIVERSITY = """
WITH classes AS (
    SELECT c_nationkey, COUNT(*) AS n,
           COUNT(DISTINCT c_mktsegment) AS n_sensitive
    FROM customer GROUP BY c_nationkey
)
SELECT CAST(c_nationkey AS VARCHAR) AS qi,
       CAST(n AS BIGINT) AS class_size,
       CAST(n_sensitive AS BIGINT) AS distinct_sensitive,
       TRUE AS violates_l
FROM classes WHERE n_sensitive < 3
UNION ALL
SELECT '*', CAST(SUM(n) AS BIGINT), CAST(MIN(n_sensitive) AS BIGINT),
       SUM(CASE WHEN n_sensitive < 3 THEN n ELSE 0 END) > 0
FROM classes
"""


def q_class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling report over documents by language:
    every language cut to the minority language's doc count, membership
    chosen by md5 hash-order (engine-portable). ``kept_id_sum`` is a
    membership checksum — the gate verifies WHICH docs were kept, not
    just how many."""
    from data_quality_checks_in_relational_database_spark.operators.sampling import (
        rebalance_to_min,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    kept = rebalance_to_min(docs, "lang", "doc_id")
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    kept_g = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").alias("kept_id_sum"),
    )
    return totals.join(kept_g, "lang").select(
        "lang",
        F.col("n_docs").cast("long"),
        F.col("n_kept").cast("long"),
        F.col("kept_id_sum").cast("long"),
    )


ORACLE_CLASS_REBALANCE = """
WITH ranked AS (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                       doc_id ASC) AS rk
    FROM documents
),
target AS (
    SELECT MIN(n) AS t FROM (SELECT COUNT(*) AS n FROM documents GROUP BY lang)
),
kept AS (
    SELECT lang, doc_id FROM ranked, target WHERE rk <= t
)
SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(k.n_kept) AS BIGINT) AS n_kept,
       CAST(MAX(k.kept_id_sum) AS BIGINT) AS kept_id_sum
FROM documents d
JOIN (SELECT lang, COUNT(*) AS n_kept, SUM(doc_id) AS kept_id_sum
      FROM kept GROUP BY lang) k USING (lang)
GROUP BY d.lang
"""


def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficient over the verified
    near-dup pair graph — the clique-ness audit behind the collapse
    decision (coeff ~1: tight clique, one representative is safe;
    low coeff at high degree: chain-shaped merging risk). Pairs from
    the same MinHash-LSH verified funnel as ``dedup_clusters``."""
    from data_quality_checks_in_relational_database_spark.operators.graph import (
        triangle_counts,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.5)
    return triangle_counts(pairs, "doc_id_a", "doc_id_b")


ORACLE_DEDUP_TRIANGLES = f"""
WITH jp AS ({ORACLE_NGRAM_JACCARD}),
e AS (
    SELECT LEAST(doc_id_a, doc_id_b) AS lo, GREATEST(doc_id_a, doc_id_b) AS hi
    FROM jp WHERE doc_id_a != doc_id_b
    GROUP BY 1, 2
),
tri AS (
    SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
    FROM e e1
    JOIN e e2 ON e2.lo = e1.hi
    JOIN e e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
),
per_node AS (
    SELECT node, COUNT(*) AS triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ) GROUP BY node
),
deg AS (
    SELECT node, COUNT(*) AS degree FROM (
        SELECT lo AS node FROM e UNION ALL SELECT hi FROM e
    ) GROUP BY node
)
SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
       CASE WHEN d.degree >= 2 THEN
           ROUND(2.0 * COALESCE(p.triangles, 0)
                 / (d.degree * (d.degree - 1)), 6) + 0.0
       END AS clustering_coeff
FROM deg d LEFT JOIN per_node p ON p.node = d.node
"""


# ---------------------------------------------------------------------------
# Leakage-free split: whole near-dup clusters assigned to one split
# ---------------------------------------------------------------------------


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that can NEVER leak near-duplicates across
    splits: membership hashes the doc's dedup-cluster id (singletons
    hash their own id), so every near-dup cluster lands in one split —
    the grouped-split discipline eval-decontamination papers require,
    where a plain per-doc hash split (``hash_split``) still leaks
    paraphrases into test. Output per split: doc count, group count,
    and the cross-split near-dup pair count, computed by re-joining
    the verified pair list against the assignment (provably 0; the
    column IS the audit)."""
    from data_quality_checks_in_relational_database_spark.operators.cluster import (
        dedup_clusters,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    pairs = dd.minhash_lsh_pairs(docs, threshold=0.5)
    comp = dedup_clusters(pairs).select("doc_id", "cluster_id")
    assigned = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("gid"),
        )
    )
    # md5 low-60-bit uniform in [0, 1) of the GROUP id (engine-portable)
    u = F.conv(
        F.substring(F.md5(F.col("gid").cast("string")), 1, 15), 16, 10
    ).cast("double") / F.lit(float(1 << 60))
    sp = assigned.select(
        "doc_id",
        "gid",
        F.when(u < 0.8, F.lit("train"))
        .when(u < 0.9, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    per_split = sp.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("gid").cast("long").alias("n_groups"),
    )
    leaks = (
        pairs.join(
            sp.select(F.col("doc_id").alias("doc_id_a"), F.col("split").alias("split_a")),
            "doc_id_a",
        )
        .join(
            sp.select(F.col("doc_id").alias("doc_id_b"), F.col("split").alias("split_b")),
            "doc_id_b",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("cross_split_pairs"))
    )
    return per_split.crossJoin(F.broadcast(leaks))


ORACLE_CLUSTER_SAFE_SPLIT = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({ORACLE_NGRAM_JACCARD}),
edges AS MATERIALIZED (
    SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs
    UNION ALL
    SELECT doc_id_b, doc_id_a FROM pairs
),
reach(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
assigned AS (
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS gid
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
sp AS (
    SELECT doc_id, gid,
           CASE WHEN u < 0.8 THEN 'train'
                WHEN u < 0.9 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, gid,
               CAST(CAST('0x' || substr(md5(CAST(gid AS VARCHAR)), 1, 15) AS BIGINT)
                    AS DOUBLE) / 1152921504606846976.0 AS u
        FROM assigned
    )
),
leaks AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS cross_split_pairs
    FROM pairs p
    JOIN sp a ON p.doc_id_a = a.doc_id
    JOIN sp b ON p.doc_id_b = b.doc_id
    WHERE a.split != b.split
)
SELECT s.split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT s.gid) AS BIGINT) AS n_groups,
       l.cross_split_pairs
FROM sp s CROSS JOIN leaks l
GROUP BY s.split, l.cross_split_pairs
"""


def q_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS sub-quadratic candidate path for the exact Jaccard
    pair join: prefix filtering (rarest-first global shingle order;
    a qualifying pair must collide within the first
    |S|-ceil(t·|S|)+1 shingles) + exact verification — recall is 1.0
    BY CONSTRUCTION, so it shares ``ngram_jaccard_pairs``'s oracle
    with no recall pin needed (contrast: minhash_dedup's banding
    recall is probabilistic and pytest-pinned). r5: runs at t=0.7 with
    PPJoin's positional filter — the regime where prefix filtering has
    real selectivity ((1-t)·|S|+1 prefix tokens) — against its own
    t=0.7 oracle; every matching pair on this corpus has J ≥ 0.8, so
    the 0.7 gate keeps the same non-vacuous pair set.
    See :func:`operators.dedup.prefix_filter_jaccard_pairs`."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return dd.prefix_filter_jaccard_pairs(docs, threshold=0.7)


ORACLE_NGRAM_JACCARD_T07 = ORACLE_NGRAM_JACCARD.replace(
    "WHERE jaccard >= 0.5", "WHERE jaccard >= 0.7"
)


def q_jw_part_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler record linkage over part names (same blocks as
    ``fuzzy_parts``, threshold 0.9): the transposition-tolerant twin of
    the Levenshtein pass. The Spark side's pure-Python JW (the one
    per-pair Arrow stage) is pinned equal to DuckDB's
    ``jaro_winkler_similarity`` — 0.7 boost threshold, empty-string
    zero — over 8000 random pairs in pytest, so the oracle is a true
    independent replay. See
    :func:`operators.fuzzy.jaro_winkler_blocked_pairs`."""
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        jaro_winkler_blocked_pairs,
    )

    part = load_tables(spark, sf_dir, ("part",))["part"]
    return jaro_winkler_blocked_pairs(
        part,
        text_col="p_name",
        id_col="p_partkey",
        block_cols=[F.col("p_brand"), F.split(F.col("p_name"), " ").getItem(0)],
        threshold=0.9,
        max_pairs_per_record=_BLOCK_PAIR_BUDGET,
    )


ORACLE_JW_PART_LINKAGE = """
SELECT id_a, id_b, ROUND(jw, 6) + 0.0 AS jw FROM (
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           jaro_winkler_similarity(a.p_name, b.p_name) AS jw
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_partkey < b.p_partkey
) WHERE jw >= 0.9
"""


def q_jw_part_linkage_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler linkage on the RE-KEYED (brand × type × size)
    blocks — the scale remedy for ``jw_part_linkage``, which inherits
    ``fuzzy_parts``'s 2-key blocks and their measured quadratic
    (SCALING.md r5: 9.9 s at sf0.1, 85 s at 3× — the worst plan in the
    audit; the Arrow JW stage makes block growth hurt ~5× more than
    the JVM levenshtein). Same 0.9 threshold, same pinned-≡-DuckDB JW;
    candidates shrink ~37× (7,500-key space), with the same
    key-saturation caveat ``fuzzy_parts_keyed`` documents."""
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        jaro_winkler_blocked_pairs,
    )

    part = load_tables(spark, sf_dir, ("part",))["part"]
    return jaro_winkler_blocked_pairs(
        part,
        text_col="p_name",
        id_col="p_partkey",
        block_cols=[F.col("p_brand"), F.col("p_type"), F.col("p_size").cast("string")],
        threshold=0.9,
        max_pairs_per_record=_BLOCK_PAIR_BUDGET,
    )


ORACLE_JW_PART_LINKAGE_KEYED = """
SELECT id_a, id_b, ROUND(jw, 6) + 0.0 AS jw FROM (
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           jaro_winkler_similarity(a.p_name, b.p_name) AS jw
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand
     AND a.p_type = b.p_type
     AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
) WHERE jw >= 0.9
"""


# sorted-neighborhood parameters, shared by the SNM Levenshtein query,
# the SNM JW headline, and their oracles
_SN_WINDOW = 5
_SN_MAXDIST = 2


def q_jw_part_linkage_snm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler linkage over SORTED-NEIGHBORHOOD candidates — the
    JW family HEADLINE (r5 verdict #3). No blocking key at all: the
    two-phase global rank over (p_name, p_partkey) + bucketed rank
    equi-join yields O(n·w) candidates regardless of how any key's
    block space fills, and the one Arrow JW stage scores only those.
    Retires the scale caveats of both blocked forms (2-key: quadratic;
    brand×type×size: 4.63× wall at 3× as the 7,500-key space
    saturates). Window 5, threshold 0.9, JW pinned ≡ DuckDB's
    ``jaro_winkler_similarity``. See
    :func:`operators.fuzzy.sorted_neighborhood_jw_pairs`."""
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        sorted_neighborhood_jw_pairs,
    )

    part = load_tables(spark, sf_dir, ("part",))["part"]
    return sorted_neighborhood_jw_pairs(
        part, "p_name", "p_partkey", window=_SN_WINDOW, threshold=0.9
    )


ORACLE_JW_PART_LINKAGE_SNM = f"""
WITH ranked AS (
    SELECT p_partkey AS rid, p_name AS txt,
           ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rank
    FROM part
)
SELECT id_a, id_b, ROUND(jw, 6) + 0.0 AS jw FROM (
    SELECT LEAST(a.rid, b.rid) AS id_a,
           GREATEST(a.rid, b.rid) AS id_b,
           jaro_winkler_similarity(a.txt, b.txt) AS jw
    FROM ranked a JOIN ranked b
      ON b.rank > a.rank AND b.rank - a.rank <= {_SN_WINDOW}
) WHERE jw >= 0.9
"""


_DEBOUNCE_GAP_S = 1800


def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-(user, type) debounce at a 30-minute gap — KEPT iff
    first of the stream or ≥ gap after the last KEPT event. Inherently
    sequential per key (a window lag cannot express the kept-chain
    dependence), so the oracle replays the greedy scan with a
    recursive CTE that steps each (user, type) chain one event per
    iteration. See :func:`operators.funnel.debounce_events`."""
    from data_quality_checks_in_relational_database_spark.operators.funnel import (
        debounce_events,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    return debounce_events(
        ev, "user_id", "ts", "event_type", "event_id", gap_seconds=_DEBOUNCE_GAP_S
    )


ORACLE_DEBOUNCE_EVENTS = f"""
WITH RECURSIVE ev AS (
    SELECT user_id AS u, event_type AS ty, event_id AS rid, epoch_us(ts) AS t,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY epoch_us(ts), event_id) AS rn
    FROM events
),
chain(u, ty, rid, t, rn, last_kept, kept) AS (
    SELECT u, ty, rid, t, rn, t, TRUE FROM ev WHERE rn = 1
    UNION ALL
    SELECT e.u, e.ty, e.rid, e.t, e.rn,
           CASE WHEN e.t - c.last_kept >= {_DEBOUNCE_GAP_S * 1_000_000}
                THEN e.t ELSE c.last_kept END,
           e.t - c.last_kept >= {_DEBOUNCE_GAP_S * 1_000_000}
    FROM ev e JOIN chain c ON e.u = c.u AND e.ty = c.ty AND e.rn = c.rn + 1
)
SELECT rid AS event_id, u AS user_id, ty AS event_type, t AS ts_us, kept
FROM chain
"""


def q_chi2_weekend_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the weekday-vs-weekend ×
    event-type contingency table — the classical-test companion to the
    JS-divergence ``weekend_drift``. Per cell: observed count, both
    margins, and the χ² contribution (o·N − r·c)²/(r·c·N) — numerator
    and denominator are exact DECIMAL(38,0) integers and the single
    division is emitted UNROUNDED (bit-identical across engines), so
    the full statistic is Σ of hash-checked cells."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    bucket = F.when(
        F.dayofweek(F.col("ts").cast("timestamp")).isin(1, 7), "weekend"
    ).otherwise("weekday")
    base = ev.select(bucket.alias("bucket"), F.col("event_type"))
    cells = base.groupBy("bucket", "event_type").agg(
        F.count(F.lit(1)).alias("o")
    )
    rmarg = cells.groupBy("bucket").agg(F.sum("o").alias("r"))
    cmarg = cells.groupBy("event_type").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("n"))
    d = lambda col: F.col(col).cast("decimal(38,0)")
    grid = (
        # dense bucket × type grid so a type absent on one side still
        # contributes its expected-count term (o = 0)
        rmarg.crossJoin(F.broadcast(cmarg))
        .join(cells, ["bucket", "event_type"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "event_type",
            F.coalesce("o", F.lit(0)).cast("long").alias("n_obs"),
            F.col("r").cast("long").alias("n_bucket"),
            F.col("c").cast("long").alias("n_type"),
            F.col("n").cast("long").alias("n_total"),
            (
                (
                    (F.coalesce(d("o"), F.lit(0).cast("decimal(38,0)")) * d("n")
                     - d("r") * d("c"))
                    * (F.coalesce(d("o"), F.lit(0).cast("decimal(38,0)")) * d("n")
                       - d("r") * d("c"))
                ).cast("double")
                / (d("r") * d("c") * d("n")).cast("double")
            ).alias("chi2_contrib"),
        )
    )
    return grid


ORACLE_CHI2_WEEKEND_DRIFT = """
WITH base AS (
    SELECT CASE WHEN dayofweek(ts) IN (0, 6) THEN 'weekend' ELSE 'weekday' END AS bucket,
           event_type
    FROM events
),
cells AS (SELECT bucket, event_type, COUNT(*) AS o FROM base GROUP BY bucket, event_type),
rmarg AS (SELECT bucket, SUM(o) AS r FROM cells GROUP BY bucket),
cmarg AS (SELECT event_type, SUM(o) AS c FROM cells GROUP BY event_type),
tot AS (SELECT SUM(o) AS n FROM cells)
SELECT rm.bucket, cm.event_type,
       CAST(COALESCE(ce.o, 0) AS BIGINT) AS n_obs,
       CAST(rm.r AS BIGINT) AS n_bucket,
       CAST(cm.c AS BIGINT) AS n_type,
       CAST(t.n AS BIGINT) AS n_total,
       CAST((COALESCE(ce.o, 0) * t.n - rm.r * cm.c) ** 2 AS DOUBLE)
         / CAST(rm.r * cm.c * t.n AS DOUBLE) AS chi2_contrib
FROM rmarg rm
CROSS JOIN cmarg cm
LEFT JOIN cells ce ON ce.bucket = rm.bucket AND ce.event_type = cm.event_type
CROSS JOIN tot t
"""


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary-coverage card for tokenizer planning: token
    totals, distinct types, hapax/dis legomena, and the Good-Turing
    estimate of unseen-type probability mass (N₁/N — Gale & Sampson
    1995): how much of the token stream a vocabulary built from THIS
    corpus would miss on fresh text. One explode → one keyed count →
    one bounded frequency-of-frequencies aggregate; the emitted mass
    is a single unrounded division of exact integers."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    from data_quality_checks_in_relational_database_spark.operators.text import tokens

    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return tf.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long").alias("n_dis"),
        (
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.sum("c").cast("double")
        ).alias("unseen_mass_gt"),
    )


ORACLE_VOCAB_COVERAGE = """
WITH toks AS (
    SELECT unnest(list_filter(
        CASE WHEN length(trim(text)) = 0 THEN []
             ELSE string_split_regex(trim(lower(text)), '\\s+') END,
        t -> t != '')) AS tok
    FROM documents
),
tf AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)
SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(SUM(c) AS DOUBLE) AS unseen_mass_gt
FROM tf
"""


def q_json_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read TYPE inference profile over the JSON props
    column: per key, how many values parse as integer / double-only /
    boolean / null, and the residual strings — the report that decides
    what typed schema a VARIANT/struct extraction should use
    (companion to ``props_map_stats``, which profiles values, and
    ``variant_stats``, which assumes the types). Map-only explode +
    one keyed aggregation; classification order integer → double →
    boolean → null → string is a first-match contract on BOTH
    engines."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    kv = ev.select(
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "val")
    )
    is_int = F.col("val").rlike(r"^-?\d+$")
    is_dbl = F.col("val").rlike(r"^-?\d+\.\d+$")
    is_bool = F.col("val").isin("true", "false")
    return kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum(is_int.cast("int")).cast("long").alias("n_integer"),
        F.sum((~is_int & is_dbl).cast("int")).cast("long").alias("n_double"),
        F.sum((~is_int & ~is_dbl & is_bool).cast("int")).cast("long").alias("n_boolean"),
        F.sum(F.col("val").isNull().cast("int")).cast("long").alias("n_null"),
        F.sum(
            (F.col("val").isNotNull() & ~is_int & ~is_dbl & ~is_bool).cast("int")
        )
        .cast("long")
        .alias("n_string"),
    )


ORACLE_JSON_SCHEMA_PROFILE = """
WITH kv AS (
    SELECT k.key,
           json_extract_string(props, '$.' || k.key) AS val
    FROM events, UNNEST(json_keys(props)) AS k(key)
    WHERE props IS NOT NULL
)
SELECT key,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       CAST(SUM(CASE WHEN regexp_full_match(val, '-?\\d+') THEN 1 ELSE 0 END) AS BIGINT) AS n_integer,
       CAST(SUM(CASE WHEN NOT regexp_full_match(val, '-?\\d+')
                      AND regexp_full_match(val, '-?\\d+\\.\\d+') THEN 1 ELSE 0 END) AS BIGINT) AS n_double,
       CAST(SUM(CASE WHEN NOT regexp_full_match(val, '-?\\d+')
                      AND NOT regexp_full_match(val, '-?\\d+\\.\\d+')
                      AND val IN ('true', 'false') THEN 1 ELSE 0 END) AS BIGINT) AS n_boolean,
       CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(SUM(CASE WHEN val IS NOT NULL
                      AND NOT regexp_full_match(val, '-?\\d+')
                      AND NOT regexp_full_match(val, '-?\\d+\\.\\d+')
                      AND val NOT IN ('true', 'false') THEN 1 ELSE 0 END) AS BIGINT) AS n_string
FROM kv GROUP BY key
"""


_WJ_SCALE = 1_000_000


def q_idf_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-WEIGHTED shingle Jaccard pairs (soft set similarity):
    J_w(A,B) = Σ_{s∈A∩B} idf(s) / Σ_{s∈A∪B} idf(s) — boilerplate
    shingles shared by everything weigh ~0, so two documents match
    only on DISCRIMINATIVE overlap (the weighted-set-similarity
    upgrade of ``ngram_jaccard_pairs``; Chaudhuri et al. weighted
    variants). Weights are integer micro-idf (the ``doc_rarity``
    contract: round(ln(N/df)·10⁶) once per shingle), so intersection /
    union sums are exact integers under any partitioning and the
    emitted similarity is ONE exact division. Inverted-index join —
    only pairs sharing ≥1 shingle materialize; the intersection weight
    falls directly out of the join matches."""
    from data_quality_checks_in_relational_database_spark.operators.dedup import shingle_sets

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    sets_ = shingle_sets(docs, "text", "doc_id", 3)
    inv = sets_.select(
        F.col("doc_id").alias("sid"), F.explode("shingles").alias("shingle")
    )
    n_docs_with = sets_.where(F.size("shingles") > 0).count()  # 1 scalar
    dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    widx = inv.join(
        dfreq.select(
            "shingle",
            F.round(
                F.log(F.lit(float(n_docs_with)) / F.col("df").cast("double"))
                * _WJ_SCALE
            )
            .cast("long")
            .alias("w"),
        ),
        "shingle",
    )
    totals = widx.groupBy("sid").agg(F.sum("w").alias("tw"))
    a, b = widx.alias("a"), widx.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .groupBy(F.col("a.sid").alias("doc_id_a"), F.col("b.sid").alias("doc_id_b"))
        .agg(F.sum(F.col("a.w")).alias("iw"))
    )
    ta = totals.select(F.col("sid").alias("doc_id_a"), F.col("tw").alias("wa"))
    tb = totals.select(F.col("sid").alias("doc_id_b"), F.col("tw").alias("wb"))
    wj = F.col("iw") / (F.col("wa") + F.col("wb") - F.col("iw"))
    return (
        inter.join(ta, "doc_id_a")
        .join(tb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", wj.alias("weighted_jaccard"))
        .where(F.col("weighted_jaccard") >= 0.5)
    )


ORACLE_IDF_WEIGHTED_JACCARD = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
    FROM documents WHERE length(trim(text)) > 0
),
sh AS (
    SELECT doc_id,
           list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS s
    FROM toks WHERE len(t) >= 3
),
inv AS (SELECT doc_id AS sid, unnest(s) AS shingle FROM sh),
n AS (SELECT COUNT(*) AS nd FROM sh WHERE len(s) > 0),
widx AS (
    SELECT i.sid, i.shingle,
           CAST(ROUND(LN(CAST(n.nd AS DOUBLE) / d.df) * {_WJ_SCALE}) AS BIGINT) AS w
    FROM inv i
    JOIN (SELECT shingle, COUNT(*) AS df FROM inv GROUP BY shingle) d USING (shingle)
    CROSS JOIN n
),
totals AS (SELECT sid, SUM(w) AS tw FROM widx GROUP BY sid),
inter AS (
    SELECT a.sid AS doc_id_a, b.sid AS doc_id_b, SUM(a.w) AS iw
    FROM widx a JOIN widx b ON a.shingle = b.shingle AND a.sid < b.sid
    GROUP BY a.sid, b.sid
)
SELECT doc_id_a, doc_id_b,
       CAST(iw AS DOUBLE) / (ta.tw + tb.tw - iw) AS weighted_jaccard
FROM inter
JOIN totals ta ON ta.sid = doc_id_a
JOIN totals tb ON tb.sid = doc_id_b
WHERE CAST(iw AS DOUBLE) / (ta.tw + tb.tw - iw) >= 0.5
"""


_JOURNEY_LEN = 12
_JOURNEY_TOPK = 20


def q_journey_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral journey similarity: each user's first 12 events map
    to a character string (event types → letters by alphabetical
    index), and the TOP-20 most-similar user pairs by Levenshtein over
    those journey strings are emitted (top-k, not a threshold — always
    non-vacuous, deterministic under the (dist, user_a, user_b) total
    order).

    Scale shape (r4 verdict fix): pairs come from the LOSSLESS
    Pass-Join pigeonhole blocking (:func:`operators.fuzzy.
    passjoin_pairs` — segment equi-join, no BNLJ) at an ESCALATING
    radius (3 → 5 → 7): once ≥ k pairs lie within radius D, the global
    top-k is provably inside that candidate set, so the result equals
    the oracle's all-pairs top-k. Escalation depth anti-correlates with
    corpus size — more users ⇒ more close pairs ⇒ the ladder stops at a
    small radius where the blocking is strongest; the full-join rung is
    reached only on tiny/sparse populations where quadratic is free
    (never at the shipped SFs: 0.001 stops at 7, 0.01 at 5, 0.1 at 3).
    Top-k is ``orderBy(...).limit(k)`` (TakeOrderedAndProject:
    per-partition top-k + driver merge), with ranks attached by a
    window over the bounded k-row frame — no global row_number over
    the pair set."""
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        passjoin_pairs,
    )

    ev = load_tables(spark, sf_dir, ("events",))["events"]
    # alphabet assignment without an unpartitioned window: one bounded
    # collect_list row (|distinct event types| elements) posexploded back
    types = (
        ev.select("event_type")
        .distinct()
        .agg(F.array_sort(F.collect_list("event_type")).alias("ts"))
        .select(F.posexplode("ts").alias("pos", "event_type"))
        .select("event_type", F.chr(F.lit(97) + F.col("pos")).alias("letter"))
    )
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        ev.join(F.broadcast(types), "event_type")
        .withColumn("rn", F.row_number().over(w_u))
        .where(F.col("rn") <= _JOURNEY_LEN)
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("rn", "letter"))).getField("letter")
            ).alias("j")
        )
    )
    seq = seq.localCheckpoint()  # one bounded row per user; reused per rung
    pairs = None
    for radius in (3, 5, 7):
        cand = passjoin_pairs(
            seq, radius, id_col="user_id", text_col="j"
        ).localCheckpoint()
        if cand.count() >= _JOURNEY_TOPK:
            pairs = cand.select(
                F.col("id_a").alias("user_a"),
                F.col("id_b").alias("user_b"),
                "dist",
            )
            break
    if pairs is None:
        # fewer than k pairs within radius 7 of each other ⇒ population
        # is tiny or journeys near-orthogonal; the exact join is cheap
        # exactly when this rung is reached
        a, b = seq.alias("a"), seq.alias("b")
        pairs = a.join(b, F.col("a.user_id") < F.col("b.user_id")).select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.levenshtein(F.col("a.j"), F.col("b.j")).cast("long").alias("dist"),
        )
    topk = pairs.orderBy(
        F.col("dist").asc(), F.col("user_a").asc(), F.col("user_b").asc()
    ).limit(_JOURNEY_TOPK)
    # rank the ALREADY-BOUNDED k-row frame without any window node (a
    # constant partition key gets constant-folded back to the
    # unpartitioned WindowExec): one k-element collect_list, array_sort
    # on the (dist, user_a, user_b) struct order, posexplode
    return (
        topk.agg(
            F.array_sort(
                F.collect_list(F.struct("dist", "user_a", "user_b"))
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("pos", "r"))
        .select(
            (F.col("pos") + 1).cast("long").alias("rank"),
            F.col("r.user_a").alias("user_a"),
            F.col("r.user_b").alias("user_b"),
            F.col("r.dist").alias("dist"),
        )
    )


ORACLE_JOURNEY_SIMILARITY = f"""
WITH types AS (
    SELECT event_type,
           chr(96 + CAST(ROW_NUMBER() OVER (ORDER BY event_type) AS INTEGER)) AS letter
    FROM (SELECT DISTINCT event_type FROM events)
),
ranked AS (
    SELECT e.user_id, t.letter, epoch_us(e.ts) AS tus, e.event_id,
           ROW_NUMBER() OVER (PARTITION BY e.user_id ORDER BY e.ts, e.event_id) AS rn
    FROM events e JOIN types t USING (event_type)
),
seq AS (
    SELECT user_id, string_agg(letter, '' ORDER BY rn) AS j
    FROM ranked WHERE rn <= {_JOURNEY_LEN} GROUP BY user_id
),
pairs AS (
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           CAST(levenshtein(a.j, b.j) AS BIGINT) AS dist
    FROM seq a JOIN seq b ON a.user_id < b.user_id
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY dist ASC, user_a ASC, user_b ASC) AS BIGINT) AS rank,
       user_a, user_b, dist
FROM pairs
ORDER BY dist ASC, user_a ASC, user_b ASC
LIMIT {_JOURNEY_TOPK}
"""


def q_volume_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type volume TREND: the exact OLS slope of daily event
    counts against the day index — the "is this feed quietly growing /
    dying" DQ readout behind dow_anomalies' seasonal check. All OLS
    sufficient statistics (n, Σx, Σy, Σxy, Σx²) are exact integers over
    (day_index, count); slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is ONE
    exact-integer division, emitted unrounded with its integer
    numerator/denominator alongside."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).alias("y"))
    base = daily.crossJoin(
        F.broadcast(daily.agg(F.min("d").alias("d0")))
    ).select(
        "event_type",
        F.datediff(F.col("d"), F.col("d0")).cast("decimal(38,0)").alias("x"),
        F.col("y").cast("decimal(38,0)").alias("y"),
    )
    stats = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return stats.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.try_divide(num.cast("double"), den.cast("double")).alias("slope_per_day"),
    )


ORACLE_VOLUME_TREND = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS d, COUNT(*) AS y
    FROM events GROUP BY event_type, CAST(ts AS DATE)
),
d0 AS (SELECT MIN(d) AS d0 FROM daily),
base AS (
    SELECT event_type,
           CAST(date_diff('day', d0.d0, d) AS HUGEINT) AS x,
           CAST(y AS HUGEINT) AS y
    FROM daily, d0
),
stats AS (
    SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx
    FROM base GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_days,
       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
       CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
       CAST(n * sxy - sx * sy AS DOUBLE)
         / NULLIF(CAST(n * sxx - sx * sx AS DOUBLE), 0) AS slope_per_day
FROM stats
"""


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood linkage over part names (window 5, edit
    distance ≤ 2) — the O(n log n + n·w) alternative when no bounded
    blocking key exists (the fuzzy_parts scaling caveat). The oracle
    replays the logical definition directly: global ROW_NUMBER over
    (name, key), pairs within `window` ranks, Levenshtein verify —
    proving the distributed two-phase rank + bucketed equi-join
    produces exactly the sliding-window semantics. See
    :func:`operators.fuzzy.sorted_neighborhood_pairs`."""
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        sorted_neighborhood_pairs,
    )

    part = load_tables(spark, sf_dir, ("part",))["part"]
    return sorted_neighborhood_pairs(
        part, "p_name", "p_partkey", window=_SN_WINDOW, max_dist=_SN_MAXDIST
    )


ORACLE_SORTED_NEIGHBORHOOD = f"""
WITH ranked AS (
    SELECT p_partkey AS rid, p_name AS txt,
           ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rank
    FROM part
)
SELECT LEAST(a.rid, b.rid) AS id_a,
       GREATEST(a.rid, b.rid) AS id_b,
       CAST(levenshtein(a.txt, b.txt) AS BIGINT) AS dist
FROM ranked a JOIN ranked b
  ON b.rank > a.rank AND b.rank - a.rank <= {_SN_WINDOW}
WHERE levenshtein(a.txt, b.txt) <= {_SN_MAXDIST}
"""


def q_sorted_neighborhood_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pass SNM linkage: pass 1 sorts by ``p_name``, pass 2 by
    ``reverse(p_name)`` — single-key SNM's one blind spot is a pair
    differing EARLY in the sort key (a first-token typo sorts the
    twins apart); under the reversed key that typo sits at the end and
    the pair is neighbors again. Union ∪ dedup, additive cost, the SNM
    analogue of ``fuzzy_parts_multipass`` (and unlike that one, NO
    saturation budget needed — each pass is O(n·w) by construction).
    See :func:`operators.fuzzy.sorted_neighborhood_multikey_pairs`."""
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        sorted_neighborhood_multikey_pairs,
    )

    part = load_tables(spark, sf_dir, ("part",))["part"]
    return sorted_neighborhood_multikey_pairs(
        part,
        "p_name",
        "p_partkey",
        sort_exprs=[F.col("p_name"), F.reverse(F.col("p_name"))],
        window=_SN_WINDOW,
        max_dist=_SN_MAXDIST,
    )


ORACLE_SORTED_NEIGHBORHOOD_MULTIKEY = f"""
WITH r1 AS (
    SELECT p_partkey AS rid, p_name AS txt,
           ROW_NUMBER() OVER (ORDER BY p_name, p_partkey) AS rank
    FROM part
),
r2 AS (
    SELECT p_partkey AS rid, p_name AS txt,
           ROW_NUMBER() OVER (ORDER BY reverse(p_name), p_partkey) AS rank
    FROM part
),
pairs AS (
    SELECT LEAST(a.rid, b.rid) AS id_a, GREATEST(a.rid, b.rid) AS id_b,
           levenshtein(a.txt, b.txt) AS d
    FROM r1 a JOIN r1 b
      ON b.rank > a.rank AND b.rank - a.rank <= {_SN_WINDOW}
    UNION
    SELECT LEAST(a.rid, b.rid), GREATEST(a.rid, b.rid),
           levenshtein(a.txt, b.txt)
    FROM r2 a JOIN r2 b
      ON b.rank > a.rank AND b.rank - a.rank <= {_SN_WINDOW}
)
SELECT DISTINCT id_a, id_b, CAST(d AS BIGINT) AS dist
FROM pairs WHERE d <= {_SN_MAXDIST}
"""


def q_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key cost audit of the EXACT key fuzzy_parts uses
    (p_brand, first name token): per log2 block-size bucket, block /
    record / candidate-pair counts — the pre-flight estimator that
    catches the quadratic blow-up SCALING.md measured, before the job
    runs. See :func:`operators.fuzzy.blocking_audit`."""
    from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
        blocking_audit,
    )

    part = load_tables(spark, sf_dir, ("part",))["part"]
    return blocking_audit(
        part, [F.col("p_brand"), F.split(F.col("p_name"), " ").getItem(0)]
    )


ORACLE_BLOCKING_AUDIT = """
WITH sizes AS (
    SELECT p_brand, split_part(p_name, ' ', 1) AS tok, COUNT(*) AS sz
    FROM part GROUP BY p_brand, split_part(p_name, ' ', 1)
)
SELECT CAST(FLOOR(LOG2(sz)) AS BIGINT) AS size_bucket_log2,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(sz) AS BIGINT) AS n_records,
       CAST(MAX(sz) AS BIGINT) AS max_block,
       CAST(SUM(sz * (sz - 1) / 2) AS BIGINT) AS n_cand_pairs
FROM sizes GROUP BY FLOOR(LOG2(sz))
"""


_TFIDF_COS_THRESHOLD = 0.5


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine near-dup pairs over word-3-gram terms (inverted
    index; exact integer micro-idf weights — see
    :func:`operators.text.tfidf_cosine_pairs`). The vector-space third
    leg of the text-similarity triangle: ``ngram_jaccard_pairs`` is
    unweighted sets, ``idf_weighted_jaccard`` is weighted sets, this is
    weighted VECTORS (term frequency counts; cosine normalization).
    Threshold 0.5 sits in the corpus's empty [0.2, 0.9) similarity gap,
    far from any rounding boundary.

    BUDGET-ARMED (r6 verdict #5): the uncapped postings self-join costs
    Σ C(df, 2); on this corpus df scales with N, so candidates/posting
    grows ~10×/decade (measured 0.54 → 4.9 across sf0.01 → sf0.1). The
    enforced pre-flight refuses past 20 candidates/posting — passes
    every shipped SF, fires at the next decade — naming the capped twin
    (``tfidf_cosine_pairs_capped``) instead of running quadratic."""
    from data_quality_checks_in_relational_database_spark.operators.text import (
        tfidf_cosine_pairs,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tfidf_cosine_pairs(
        docs, threshold=_TFIDF_COS_THRESHOLD, max_candidates_per_posting=20
    )


def _tfidf_cosine_oracle(max_doc_freq: int | None) -> str:
    """One SQL template for both TF-IDF twins so the capped oracle can
    never drift from the uncapped one: the ONLY difference is the
    ``HAVING df <= cap`` mirrored into the ``dfreq`` CTE — N is counted
    BEFORE the cap on both sides (operator: ``n_docs`` at
    ``text.py:1031`` precedes the dfreq filter)."""
    cap = (
        f" HAVING COUNT(*) <= {int(max_doc_freq)}"
        if max_doc_freq is not None
        else ""
    )
    return f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
    FROM documents WHERE length(trim(text)) > 0
),
grams AS (
    SELECT doc_id,
           unnest([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) AS term
    FROM toks WHERE len(t) >= 3
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM grams GROUP BY doc_id, term),
n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM tf),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term{cap}),
widx AS (
    SELECT * FROM (
        SELECT t.doc_id, t.term,
               t.tf * CAST(ROUND(LN((SELECT nd FROM n) / d.df) * 1000000) AS BIGINT) AS w
        FROM tf t JOIN dfreq d USING (term)
    ) WHERE w <> 0
),
norms AS (SELECT doc_id, SUM(w * w) AS n2 FROM widx GROUP BY doc_id),
dots AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, SUM(a.w * b.w) AS dot
    FROM widx a JOIN widx b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_id_a, doc_id_b,
       ROUND(
           CAST(dot AS DOUBLE)
           / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))),
           6
       ) AS cosine
FROM dots
JOIN norms na ON na.doc_id = doc_id_a
JOIN norms nb ON nb.doc_id = doc_id_b
WHERE CAST(dot AS DOUBLE)
      / (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE)))
      >= {_TFIDF_COS_THRESHOLD}
"""


ORACLE_TFIDF_COSINE_PAIRS = _tfidf_cosine_oracle(None)

# df cap for the HEADLINE TF-IDF twin. Measured at sf0.1 (SCALING.md
# tfidf row): output IDENTICAL to uncapped, 13% faster — on this corpus
# no gram that survives into a ≥0.5-cosine pair has df > 20. The cap is
# what makes the plan scale-safe: the inverted-index self-join costs
# Σ_term df², and a real (Zipfian, saturating) vocabulary grows max-df
# linearly with N, so the uncapped join is quadratic in the worst term
# while the capped one is ≤ cap·|postings| — linear. Same duality as
# decontam / decontam_bloom: exact baseline kept, bounded twin headlined.
_TFIDF_MAX_DF = 20


def q_tfidf_cosine_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF cosine pairs over a df-capped vocabulary (``df <= 20``) —
    the scale-safe HEADLINE of the TF-IDF family (r5 verdict #2). Same
    inverted-index plan as :func:`q_tfidf_cosine_pairs`; the cap drops
    boilerplate grams from index AND norms, so the output is exactly
    "cosine over the capped vocabulary" (documented contract, not an
    approximation) and the postings self-join is bounded by
    cap · |postings| instead of Σdf². The uncapped form stays registered
    as the exact-vocabulary baseline."""
    from data_quality_checks_in_relational_database_spark.operators.text import (
        tfidf_cosine_pairs,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return tfidf_cosine_pairs(
        docs, threshold=_TFIDF_COS_THRESHOLD, max_doc_freq=_TFIDF_MAX_DF
    )


ORACLE_TFIDF_COSINE_PAIRS_CAPPED = _tfidf_cosine_oracle(_TFIDF_MAX_DF)


def q_media_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (dHash) media near-dup pairs: deterministic PNG
    encode → REAL stdlib decode → 64-bit difference hash → lossless
    4-band blocking → exact hamming ≤ 3 verify. The pixel-structure leg
    of the media-dedup family (``media_dedup`` is exact bytes; this
    catches re-encoded copies). The synthetic corpus puts each doc in
    one of 17 base-image groups with a one-pixel perturbation on
    ``doc_id % 4 == 1`` ids (≤ 2 flipped bits each), so within-group
    pairs pass and cross-group pairs sit at hamming ≈ 32; the oracle
    replays the pixel arithmetic + bit packing without touching PNG
    bytes — gating the decoder's full pixel recovery, the hash fold,
    and the banding join. See
    :func:`operators.multimodal.png_dhash_features` /
    :func:`operators.multimodal.dhash_near_pairs`.

    BUDGET-ARMED (r6 verdict #5): the 17-group synthetic merges band
    buckets as N grows, so Σ C(bucket, 2) per record climbs ~10×/decade
    (measured 18.7 → 191 across sf0.01 → sf0.1, ≈573 at the 3× audit
    scale). The enforced pre-flight refuses past 1000 candidates/record
    — passes every shipped SF and the 3× audit, fires at the next
    decade (≈1900) — naming the capped twin
    (``media_dhash_pairs_capped``) instead of running bucket²."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hashed = mm.png_dhash_features(docs)
    return mm.dhash_near_pairs(hashed, max_candidates_per_record=1000)


ORACLE_MEDIA_DHASH_PAIRS = """
WITH ids AS (SELECT doc_id AS i FROM documents),
yy AS (SELECT i, unnest(range(8)) AS y FROM ids),
xx AS (SELECT i, y, unnest(range(9)) AS x FROM yy),
pix AS (
    SELECT i, y, x,
           CASE WHEN i % 4 = 1 AND y = i % 8 AND x = i % 9
                THEN ((i % 17) * 2654435761 + y * 9973 + x * 31 + 64) % 256
                ELSE ((i % 17) * 2654435761 + y * 9973 + x * 31) % 256
           END AS v
    FROM xx
),
bits AS (
    SELECT a.i, a.y * 8 + a.x AS pos,
           CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
    FROM pix a JOIN pix b ON b.i = a.i AND b.y = a.y AND b.x = a.x + 1
    WHERE a.x < 8
),
bands AS (
    SELECT i, pos // 16 AS k,
           SUM(bit * (1 << (pos % 16))) AS bv
    FROM bits GROUP BY i, pos // 16
),
hashes AS (
    SELECT i,
           MAX(CASE WHEN k = 0 THEN bv END) AS b0,
           MAX(CASE WHEN k = 1 THEN bv END) AS b1,
           MAX(CASE WHEN k = 2 THEN bv END) AS b2,
           MAX(CASE WHEN k = 3 THEN bv END) AS b3
    FROM bands GROUP BY i
)
SELECT a.i AS doc_id_a, b.i AS doc_id_b,
       CAST(
           bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
           + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       AS BIGINT) AS hamming
FROM hashes a JOIN hashes b ON a.i < b.i
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
"""


_BAND_AUDIT_CAP = 20


def q_band_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket cost audit of the dHash band join (r5 verdict #6):
    per 16-bit band, bucket/row counts, the candidate-pair mass
    Σ C(bucket, 2), and the share of rows/pair mass in buckets larger
    than the cap — the pre-flight that makes a ``max_bucket_size``
    guard's recall trade visible before it is applied (the banded twin
    of ``blocking_audit``). Cap 20 sits under the corpus's ~22-member
    unperturbed group buckets, so the hot columns are exercised
    non-trivially at sf0.01. See
    :func:`operators.dedup.band_bucket_audit`."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hashed = mm.png_dhash_features(docs)
    banded = hashed.select(
        "doc_id",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias("band", "bucket"),
    ).withColumn("band", F.col("band").cast("long"))
    from data_quality_checks_in_relational_database_spark.operators.dedup import (
        band_bucket_audit,
    )

    return band_bucket_audit(banded, cap=_BAND_AUDIT_CAP, bucket_col="bucket")


ORACLE_BAND_BUCKET_AUDIT = f"""
WITH ids AS (SELECT doc_id AS i FROM documents),
yy AS (SELECT i, unnest(range(8)) AS y FROM ids),
xx AS (SELECT i, y, unnest(range(9)) AS x FROM yy),
pix AS (
    SELECT i, y, x,
           CASE WHEN i % 4 = 1 AND y = i % 8 AND x = i % 9
                THEN ((i % 17) * 2654435761 + y * 9973 + x * 31 + 64) % 256
                ELSE ((i % 17) * 2654435761 + y * 9973 + x * 31) % 256
           END AS v
    FROM xx
),
bits AS (
    SELECT a.i, a.y * 8 + a.x AS pos,
           CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
    FROM pix a JOIN pix b ON b.i = a.i AND b.y = a.y AND b.x = a.x + 1
    WHERE a.x < 8
),
bands AS (
    SELECT i, pos // 16 AS k,
           SUM(bit * (1 << (pos % 16))) AS bv
    FROM bits GROUP BY i, pos // 16
),
sizes AS (SELECT k AS band, bv, COUNT(*) AS sz FROM bands GROUP BY k, bv)
SELECT CAST(band AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(sz) AS BIGINT) AS n_rows,
       CAST(MAX(sz) AS BIGINT) AS max_bucket,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS pair_mass,
       CAST(SUM(CASE WHEN sz > {_BAND_AUDIT_CAP} THEN 1 ELSE 0 END) AS BIGINT)
           AS hot_buckets,
       CAST(SUM(CASE WHEN sz > {_BAND_AUDIT_CAP} THEN sz ELSE 0 END) AS BIGINT)
           AS hot_rows,
       CAST(SUM(CASE WHEN sz > {_BAND_AUDIT_CAP} THEN sz * (sz - 1) // 2 ELSE 0 END)
           AS BIGINT) AS hot_pair_mass
FROM sizes GROUP BY band
"""


_DHASH_CAP = 30


def q_media_dhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dHash band join WITH the hot-bucket guard armed (cap 30) —
    registers the guard's exact semantics under the differential, not
    just its audit: a pair survives iff it shares ≥1 identical band
    whose bucket holds ≤ 30 images. At sf0.01 the bucket-size
    distribution is {1-3, 25-30, 51-59}, so cap 30 drops exactly the
    mega-buckets (the 59-member all-star bands) while the mid buckets
    keep pairing — a non-trivial split the oracle replays bucket by
    bucket. See :func:`operators.multimodal.dhash_near_pairs` and
    ``band_bucket_audit`` (the pre-flight that prices this cap)."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hashed = mm.png_dhash_features(docs)
    return mm.dhash_near_pairs(hashed, max_bucket_size=_DHASH_CAP)


ORACLE_MEDIA_DHASH_PAIRS_CAPPED = f"""
WITH ids AS (SELECT doc_id AS i FROM documents),
yy AS (SELECT i, unnest(range(8)) AS y FROM ids),
xx AS (SELECT i, y, unnest(range(9)) AS x FROM yy),
pix AS (
    SELECT i, y, x,
           CASE WHEN i % 4 = 1 AND y = i % 8 AND x = i % 9
                THEN ((i % 17) * 2654435761 + y * 9973 + x * 31 + 64) % 256
                ELSE ((i % 17) * 2654435761 + y * 9973 + x * 31) % 256
           END AS v
    FROM xx
),
bits AS (
    SELECT a.i, a.y * 8 + a.x AS pos,
           CASE WHEN a.v > b.v THEN 1 ELSE 0 END AS bit
    FROM pix a JOIN pix b ON b.i = a.i AND b.y = a.y AND b.x = a.x + 1
    WHERE a.x < 8
),
bands AS (
    SELECT i, pos // 16 AS k,
           SUM(bit * (1 << (pos % 16))) AS bv
    FROM bits GROUP BY i, pos // 16
),
sizes AS (SELECT k, bv, COUNT(*) AS sz FROM bands GROUP BY k, bv),
surv AS (
    SELECT b.i, b.k, b.bv
    FROM bands b JOIN sizes s ON s.k = b.k AND s.bv = b.bv
    WHERE s.sz <= {_DHASH_CAP}
),
cand AS (
    SELECT DISTINCT a.i AS ia, b.i AS ib
    FROM surv a JOIN surv b ON a.k = b.k AND a.bv = b.bv AND a.i < b.i
),
hashes AS (
    SELECT i,
           MAX(CASE WHEN k = 0 THEN bv END) AS b0,
           MAX(CASE WHEN k = 1 THEN bv END) AS b1,
           MAX(CASE WHEN k = 2 THEN bv END) AS b2,
           MAX(CASE WHEN k = 3 THEN bv END) AS b3
    FROM bands GROUP BY i
)
SELECT c.ia AS doc_id_a, c.ib AS doc_id_b,
       CAST(
           bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
           + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
       AS BIGINT) AS hamming
FROM cand c JOIN hashes a ON a.i = c.ia JOIN hashes b ON b.i = c.ib
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 3
"""


def q_media_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP decode gate: per-document deterministic 24-bit BMP
    encode → stdlib decode (header parse, BOTTOM-UP row flip for even
    ids / top-down for odd, 4-byte row-padding strip, BGR→RGB) → exact
    integer stats. The POSITION-WEIGHTED checksum is the teeth: a
    decoder that skips the bottom-up flip, mixes up channel order, or
    slips on padding mismatches it even when the brightness mean
    agrees. The oracle replays the per-sample arithmetic; see
    :func:`operators.multimodal.bmp_roundtrip_features`."""
    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    return mm.bmp_roundtrip_features(docs)


ORACLE_MEDIA_BMP_DECODE = """
WITH p AS (
    SELECT doc_id AS i, doc_id % 11 + 1 AS w, doc_id % 6 + 1 AS h
    FROM documents
),
yy AS (SELECT i, w, h, unnest(range(h)) AS y FROM p),
xx AS (SELECT i, w, y, unnest(range(w)) AS x FROM yy),
cc AS (SELECT i, w, y, x, unnest(range(3)) AS c FROM xx),
v AS (
    SELECT i, (i * 31 + 11 * y + 3 * x + 7 * c) % 256 AS v,
           (y * w + x) * 3 + c + 1 AS idx
    FROM cc
),
st AS (
    SELECT i, SUM(v) AS total, COUNT(*) AS n,
           SUM(v * idx) % 2147483647 AS wsum
    FROM v GROUP BY i
)
SELECT p.i AS doc_id,
       CAST(p.w AS BIGINT) AS width,
       CAST(p.h AS BIGINT) AS height,
       p.i % 2 = 1 AS topdown,
       CAST(st.n AS BIGINT) AS n_samples,
       CAST(st.total * 1000 // st.n AS BIGINT) AS brightness_milli,
       CAST(st.wsum AS BIGINT) AS weighted_checksum
FROM p JOIN st ON st.i = p.i
"""


def q_media_dhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The media-dedup loop CLOSED: perceptual dHash near-dup pairs →
    connected components → family report (cluster id, size,
    representative) — the same pairs→components→report pipeline
    ``dedup_clusters`` runs for text, applied to the pixel-structure
    pair graph, so a curation pass can keep one canonical image per
    visually-identical family. Oracle: recursive-CTE closure over the
    dHash pair arithmetic (no PNG bytes touched)."""
    from data_quality_checks_in_relational_database_spark.operators.cluster import (
        dedup_clusters,
    )

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    hashed = mm.png_dhash_features(docs)
    pairs = mm.dhash_near_pairs(hashed)
    return dedup_clusters(pairs)


ORACLE_MEDIA_DHASH_CLUSTERS = f"""
WITH RECURSIVE dpairs AS MATERIALIZED ({ORACLE_MEDIA_DHASH_PAIRS}),
edges AS MATERIALIZED (
    SELECT doc_id_a AS src, doc_id_b AS dst FROM dpairs
    UNION ALL
    SELECT doc_id_b, doc_id_a FROM dpairs
),
reach(node, label) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
sized AS (
    SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT c.node AS doc_id, c.cluster_id, s.cluster_size,
       c.node = c.cluster_id AS is_representative
FROM comp c JOIN sized s USING (cluster_id)
"""


_WM_CANDIDATES = (1, 60, 600, 3600, 86400)


def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark POLICY audit — the decision table ``event_disorder``'s
    summary stats feed: for each candidate watermark (1 s … 1 day),
    exactly how many of each type's events would arrive LATER than the
    watermark allows and be dropped by a streaming aggregation
    (lag = running per-user event-time max, in event_id arrival order,
    minus own event time — the same disorder definition). The output
    is the drop curve an on-call engineer reads before setting
    ``withWatermark``: pick the knee, know the loss. Exact integers
    throughout (``drop_per_million`` is one integer division); one
    keyed window pass + one grouped conditional-sum aggregate,
    unpivoted to the ≤ |types|×|candidates| decision table.

    The synthetic feed is perfectly time-ordered per user (zero natural
    disorder ⇒ a vacuous gate), so lateness is INJECTED
    deterministically — every 7th event's event time is pulled back by
    ``event_id % 9000`` seconds (the ``encoding_audit``/``golden_record``
    identity-damage pattern; the production operator takes the raw
    stream) — which spreads real drops across the candidate grid while
    the 1-day watermark stays lossless."""
    ev = load_tables(spark, sf_dir, ("events",))["events"]
    from pyspark.sql.window import Window

    t = F.unix_micros(F.col("ts").cast("timestamp")) - F.when(
        F.col("event_id") % 7 == 0,
        (F.col("event_id") % 9000) * F.lit(1_000_000),
    ).otherwise(F.lit(0))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    lag_us = F.max(t).over(w) - t
    lags = ev.select(
        "event_type",
        F.when(lag_us > 0, lag_us).otherwise(F.lit(0)).alias("lag_us"),
    )
    agg = lags.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        *[
            F.sum(
                F.when(F.col("lag_us") > wm * 1_000_000, 1).otherwise(0)
            ).alias(f"late_{wm}")
            for wm in _WM_CANDIDATES
        ],
    )
    stacked = agg.select(
        "event_type",
        "n_events",
        F.expr(
            "stack({n}, {args}) AS (watermark_s, n_dropped)".format(
                n=len(_WM_CANDIDATES),
                args=", ".join(
                    f"{wm}L, late_{wm}" for wm in _WM_CANDIDATES
                ),
            )
        ),
    )
    return stacked.select(
        "event_type",
        F.col("watermark_s").cast("long").alias("watermark_s"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
        F.expr("n_dropped * 1000000 DIV n_events").cast("long").alias(
            "drop_per_million"
        ),
    )


ORACLE_WATERMARK_AUDIT = f"""
WITH e AS (
    SELECT event_type, user_id, event_id,
           epoch_us(ts) - CASE WHEN event_id % 7 = 0
               THEN (event_id % 9000) * CAST(1000000 AS BIGINT) ELSE 0 END AS t
    FROM events
),
lags AS (
    SELECT event_type,
           GREATEST(COALESCE(MAX(t) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) - t, 0), 0) AS lag_us
    FROM e
),
agg AS (
    SELECT event_type, COUNT(*) AS n_events,
           {", ".join(
               f"SUM(CASE WHEN lag_us > CAST({wm} AS BIGINT) * 1000000 THEN 1 ELSE 0 END)"
               f" AS late_{wm}"
               for wm in _WM_CANDIDATES
           )}
    FROM lags GROUP BY event_type
)
SELECT event_type, CAST(wm.watermark_s AS BIGINT) AS watermark_s,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(wm.n_dropped AS BIGINT) AS n_dropped,
       CAST(wm.n_dropped * 1000000 // n_events AS BIGINT) AS drop_per_million
FROM agg, LATERAL (VALUES
    {", ".join(f"({wm}, late_{wm})" for wm in _WM_CANDIDATES)}
) AS wm(watermark_s, n_dropped)
"""
