"""Deduplication operators: exact, exact-Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup (BASELINE.json north-star extensions).

Scale design (the point of each variant):

- **exact**: one shuffle on a 128-bit content fingerprint. At 100 TB
  the shuffle carries (fingerprint, id) pairs only — never text.
- **exact n-gram Jaccard**: inverted-index join (explode shingles,
  self-join on shingle) — cost ∝ Σ pairs *sharing a shingle*, not N².
  This is the verification oracle; still quadratic in the worst case
  (a stop-shingle shared by everything), so production paths bound it
  with LSH candidates first.
- **MinHash+LSH**: per-doc signature (map-only), banding (explode to
  b rows/doc), bucket self-join, then exact-Jaccard verification of
  candidates only. The standard near-dedup pipeline for web-scale
  corpora (e.g. the C4/RefinedWeb recipe). All hashing is xxhash64
  JVM-side; no Python in the hot path.
- **SimHash**: 64-bit per-doc sketch via bit-voting (one map), near-dup
  candidates via 16-bit band blocking, verified by Hamming distance —
  catches small edits that shift many shingles.
- **embedding cosine**: near-dup = cosine ≥ τ over unit vectors;
  brute-force blocked self-join here, random-hyperplane LSH in
  ``operators.similarity`` as the scale path.

Every pair operator over shingle sets pins through one
``session.CheckpointScope`` (MinHash sketches via :func:`_sketch`) and
returns ``scope.keep(result)``; no pin outlives the call or its raise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_quality_checks_in_relational_database_spark.functions.scalars import rebalance
from data_quality_checks_in_relational_database_spark.operators.text import fingerprint, shingles, tokens
from data_quality_checks_in_relational_database_spark.session import CheckpointScope

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact_report(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group documents by content fingerprint; one row per distinct
    content: ``(fingerprint, group_size, representative_id)`` where the
    representative is the smallest id (deterministic keep-first)."""
    fp = fingerprint(df, text_col, id_col)
    return fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min(id_col).alias("representative_id"),
    )


def cross_source_overlap(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Content-overlap matrix between sources: for every source pair,
    how many distinct n-gram shingles both contain — the "is crawl B
    mostly a re-crawl of A" curation diagnostic (the pairwise face of
    snapshot-overlap accounting in web-corpus pipelines).

    Output: (source_a, source_b, n_shared_shingles) with
    source_a < source_b, pairs sharing ≥ 1 shingle only — bounded by
    sources², not corpus size.

    Scale shape: the corpus reduces to DISTINCT (source, shingle) first
    — map-side partial dedup, and the shuffle carries 8-byte xxhash64
    shingle keys, never shingle text (the count tolerates the ~2⁻⁶⁴
    collision rate; the DuckDB oracle recomputes from text, so a
    collision would surface in the gate). The self-join is an equi-join
    on the hash: per-shingle fan-out is m² over the m ≤ |sources|
    sources containing it, never |A|×|B| documents.
    """
    staged = rebalance(df.select(F.col(source_col), F.col(text_col))).select(
        F.col(source_col).alias("src"), tokens(F.col(text_col)).alias("t")
    )
    inv = (
        staged.select(
            "src", F.explode(shingles(F.col("t"), n)).alias("shingle")
        )
        .select("src", F.xxhash64("shingle").alias("h"))
        .distinct()
    )
    a = inv.alias("a")
    b = inv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(F.col("a.src").alias("source_a"), F.col("b.src").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Return the deduplicated rows themselves (keep smallest id per
    fingerprint). Window over the fingerprint — a single hash shuffle."""
    fp = fingerprint(df, text_col, id_col).select(id_col, "fingerprint")
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    keep = (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def normalize_text(col: Column) -> Column:
    """Canonical text form for "fuzzy-exact" dedup (the CCNet/C4 move):
    lowercase, strip everything but [a-z0-9] and whitespace, collapse
    whitespace runs, trim. Catches trivially-reformatted duplicates
    (case, punctuation, spacing) that byte-exact dedup misses, at
    exact-dedup cost. Pure Column expression — engine-portable
    (DuckDB: lower → regexp_replace(...,'g') twice → trim)."""
    t = F.lower(col)
    t = F.regexp_replace(t, "[^a-z0-9 \\t\\n\\r]", "")
    t = F.regexp_replace(t, "[ \\t\\n\\r]+", " ")
    return F.trim(t)


def normalized_dedup_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document canonical-group assignment after
    :func:`normalize_text`: ``(doc_id, canonical_id, n_members,
    is_canonical)`` — canonical = smallest id in the group (the
    :func:`dedup_exact` keep-first convention).

    Same scale shape as exact dedup: ONE shuffle keyed on the md5 of
    the normalized text (the 128-bit fingerprint travels, never text),
    then the bounded group stats broadcast back via a second pass over
    the same keyed shuffle (a single groupBy + join on the hash).
    """
    fp = df.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("nfp")
    )
    groups = fp.groupBy("nfp").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_members"),
    )
    return fp.join(groups, "nfp").select(
        F.col(id_col),
        F.col("canonical_id").cast("long"),
        F.col("n_members").cast("long"),
        (F.col(id_col) == F.col("canonical_id")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (verification baseline)
# ---------------------------------------------------------------------------


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingles) for documents with ≥ n tokens.

    Rebalanced first: shingling + sketching are compute-bound per row,
    and a one-file input would otherwise pin the whole pipeline to one
    core (no-op on already-wide inputs).

    Tokens are materialized into their own projection before shingling:
    higher-order-function lambdas re-evaluate captured expressions per
    array element, so slicing an un-materialized ``split(...)`` would
    re-run the regex split once per shingle (measured ~50× slowdown).

    Docs with < n tokens yield an EMPTY shingle array rather than being
    filtered here: a ``size(shingles) > 0`` filter would be pushed down
    below the rebalance to the scan, duplicating the whole shingling
    expression on the unbalanced input (measured 4×). Downstream
    explodes drop empty arrays for free, so consumers see the same
    pairs either way."""
    staged = rebalance(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), tokens(F.col(text_col)).alias("toks")
    )
    return staged.select(F.col(id_col), shingles(F.col("toks"), n).alias("shingles"))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold, by inverted index.

    explode(shingles) → self-join on the shingle → count shared per
    pair → Jaccard from |A|, |B|, |A∩B| (integer math, one exact
    division). Only pairs sharing ≥1 shingle are ever materialized.
    Output: (doc_id_a, doc_id_b, jaccard), a < b.

    ``max_doc_freq`` is the scale knob: a "stop shingle" appearing in m
    documents contributes m²/2 join products, so the hottest shingles
    dominate cost without contributing discriminative candidates.
    Capping drops shingles with document frequency > cap from the
    CANDIDATE index only — verification always recomputes the exact
    Jaccard from the FULL shingle sets, so precision and emitted values
    are exact; a qualifying pair is missed only if it shares no
    sub-cap shingle (vanishingly unlikely at useful thresholds).
    """
    with CheckpointScope(df.sparkSession) as scope:
        # sets_ feeds the inverted index (both join sides) AND the
        # sizes or verification join-backs: pin it once
        sets_ = scope.pin(shingle_sets(df, text_col, id_col, n))
        if max_doc_freq is None:
            jac = F.col("shared") / (F.col("size_a") + F.col("size_b") - F.col("shared"))
            return scope.keep(
                _shared_counts(sets_, id_col)
                .withColumn("jaccard", jac)
                .filter(F.col("jaccard") >= threshold)
                .select("doc_id_a", "doc_id_b", "jaccard")
            )

        inv = sets_.select(F.col(id_col).alias("sid"), F.explode("shingles").alias("shingle"))
        rare = (
            inv.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        capped = inv.join(rare, "shingle")
        a, b = capped.alias("a"), capped.alias("b")
        cand = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.sid") < F.col("b.sid")))
            .select(F.col("a.sid").alias("doc_id_a"), F.col("b.sid").alias("doc_id_b"))
            .dropDuplicates(["doc_id_a", "doc_id_b"])
        )
        return scope.keep(_verify_jaccard(cand, sets_, sets_, threshold, id_col))


def _shared_counts(sets_: DataFrame, id_col: str) -> DataFrame:
    """``(doc_id_a, doc_id_b, shared, size_a, size_b)`` for every pair
    a < b sharing ≥ 1 shingle, by inverted index (cost ∝ the pairs
    sharing a shingle, never N²), both set sizes joined back."""
    sizes = sets_.select(F.col(id_col).alias("sid"), F.size("shingles").alias("set_size"))
    inv = sets_.select(F.col(id_col).alias("sid"), F.explode("shingles").alias("shingle"))
    a, b = inv.alias("a"), inv.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.sid") < F.col("b.sid")))
        .groupBy(F.col("a.sid").alias("doc_id_a"), F.col("b.sid").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sz_a = sizes.select(F.col("sid").alias("doc_id_a"), F.col("set_size").alias("size_a"))
    sz_b = sizes.select(F.col("sid").alias("doc_id_b"), F.col("set_size").alias("size_b"))
    return shared.join(sz_a, "doc_id_a").join(sz_b, "doc_id_b")


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs: containment(A in B) = |A∩B| / |A| ≥
    threshold — the relation Jaccard misses when one document quotes or
    extends another (a 50-shingle doc fully inside a 500-shingle doc has
    Jaccard 0.1 but containment 1.0). This is the Broder containment
    sketch's exact form; dataset curation uses it to drop subset
    documents while keeping the superset.

    Same inverted-index shared counts as :func:`ngram_jaccard_pairs`
    (:func:`_shared_counts` over pinned shingle sets), emitting BOTH
    directions when both clear the threshold. Output: (doc_id_small,
    doc_id_big, containment) where `small` is the contained side.
    """
    with CheckpointScope(df.sparkSession) as scope:
        both = _shared_counts(scope.pin(shingle_sets(df, text_col, id_col, n)), id_col)
        # emit one row per DIRECTION that clears the threshold: the
        # contained (smaller-denominator) side is doc_id_small
        fwd = both.select(
            F.col("doc_id_a").alias("doc_id_small"),
            F.col("doc_id_b").alias("doc_id_big"),
            (F.col("shared") / F.col("size_a")).alias("containment"),
        )
        rev = both.select(
            F.col("doc_id_b").alias("doc_id_small"),
            F.col("doc_id_a").alias("doc_id_big"),
            (F.col("shared") / F.col("size_b")).alias("containment"),
        )
        return scope.keep(fwd.unionByName(rev).filter(F.col("containment") >= threshold))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

#: Signature width, LSH band count and shingle order of every MinHash
#: path. Together they fix the ledger's band format (band hashes are not
#: comparable across settings), so changing one means rebuilding every
#: ledger written with the old values.
NUM_PERM = 32
BANDS = 8
SHINGLE_N = 3
assert NUM_PERM % BANDS == 0
_ROWS = NUM_PERM // BANDS


def minhash_signatures(sets_: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """NUM_PERM-wide MinHash signature per document: (id, signature).

    Shaped for whole-stage codegen rather than nested higher-order
    functions (which evaluate interpreted and re-run captured
    expressions per element): explode the shingle sets, hash each
    shingle ONCE (xxhash64, codegen'd), derive the NUM_PERM
    permutations with the Carter-Wegman affine family
    ``(h1 + i·h2) mod 2^32`` (h1/h2 = 32-bit halves, h2 forced odd),
    and take NUM_PERM map-side-combined MIN aggregates per document.
    Arithmetic stays ≪ 2^63 (ANSI-safe); the shuffle carries only
    partial minima (NUM_PERM longs per doc per partition).
    """
    mask32 = F.lit(0xFFFFFFFF)
    h = F.xxhash64("s")
    ex = sets_.select(F.col(id_col), F.explode("shingles").alias("s")).select(
        F.col(id_col),
        h.bitwiseAND(mask32).alias("h1"),
        F.shiftright(h, 32).bitwiseAND(mask32).bitwiseOR(F.lit(1)).alias("h2"),
    )
    mins = [
        F.min((F.col("h1") + i * F.col("h2")).bitwiseAND(mask32)).alias(f"m{i}")
        for i in range(NUM_PERM)
    ]
    agg = ex.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col), F.array(*[F.col(f"m{i}") for i in range(NUM_PERM)]).alias("signature")
    )


def _band_rows(sig: DataFrame, id_col: str) -> DataFrame:
    """Signatures → ``(sid, band, band_hash)`` rows, BANDS per document:
    the band format every candidate join and the ledger's ``bands``
    table share. Only these tiny rows go through the explode and the
    bucket join; shingle arrays are re-joined just for the verified
    candidate set."""
    return sig.select(
        F.col(id_col).alias("sid"),
        F.posexplode(
            # xxhash64 hashes the array<bigint> band slice directly
            F.array(
                *[
                    F.xxhash64(F.slice(F.col("signature"), b * _ROWS + 1, _ROWS))
                    for b in range(BANDS)
                ]
            )
        ).alias("band", "band_hash"),
    )


def _verify_jaccard(
    cand: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    threshold: float,
    id_col: str,
    a: str = "doc_id_a",
    b: str = "doc_id_b",
) -> DataFrame:
    """Join candidate pairs ``(a, b)`` back to two ``(id, shingles)``
    frames and keep those with exact Jaccard ≥ threshold:
    ``(a, b, jaccard)``. Candidates only — never all pairs."""
    sh_a = sets_a.select(F.col(id_col).alias(a), F.col("shingles").alias("sh_a"))
    sh_b = sets_b.select(F.col(id_col).alias(b), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sh_a, a)
        .join(sh_b, b)
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select(a, b, "jaccard")
    )


def _band_pairs(
    sets_a: DataFrame,
    bands_a: DataFrame,
    sets_b: DataFrame,
    bands_b: DataFrame,
    threshold: float,
    id_col: str,
    a: str,
    b: str,
) -> DataFrame:
    """Documents sharing a (band, band_hash) bucket, exact-verified.
    The same band frame on both sides is a self-join and keeps a < b
    only; distinct frames are disjoint document sets by contract."""
    left, right = bands_a.alias("a"), bands_b.alias("b")
    on = (F.col("a.band") == F.col("b.band")) & (F.col("a.band_hash") == F.col("b.band_hash"))
    if bands_a is bands_b:
        on = on & (F.col("a.sid") < F.col("b.sid"))
    cand = (
        left.join(right, on)
        .select(F.col("a.sid").alias(a), F.col("b.sid").alias(b))
        .dropDuplicates([a, b])
    )
    return _verify_jaccard(cand, sets_a, sets_b, threshold, id_col, a, b)


def _read_ledger(spark: SparkSession, path: str, id_col: str) -> tuple[DataFrame, DataFrame]:
    """``(shingle sets, band rows)`` of a ledger written by
    :func:`_write_ledger`, bands keyed ``sid`` like :func:`_band_rows`."""
    bands = spark.read.parquet(f"{path}/bands").select(
        F.col(id_col).alias("sid"), "band", "band_hash"
    )
    return spark.read.parquet(f"{path}/shingles"), bands


def _write_ledger(sets_: DataFrame, bands: DataFrame, path: str, id_col: str) -> None:
    """Write ``{path}/shingles`` (id, shingles) and ``{path}/bands``
    (id, band, band_hash), the latter clustered on ``band_hash``."""
    sets_.write.mode("overwrite").parquet(f"{path}/shingles")
    bands.select(F.col("sid").alias(id_col), "band", "band_hash").repartition(
        "band_hash"
    ).write.mode("overwrite").parquet(f"{path}/bands")


def _sketch(
    scope: CheckpointScope, df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """``(shingle sets, band rows)`` of ``df``, both pinned in ``scope``
    and filled by ONE eager ``bands.count()`` (r8): building the bands
    reads the cold sets cache, which stores the sets as a byproduct, so
    every later consumer reads warm caches and the tokenize→shingle
    lineage runs once."""
    sets_ = scope.pin(shingle_sets(df, text_col, id_col, SHINGLE_N))
    bands = scope.pin(_band_rows(minhash_signatures(sets_, id_col), id_col))
    bands.count()
    return sets_, bands


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with exact
    Jaccard on the candidates.

    ``max_bucket_size`` is the HOT-BUCKET GUARD (r5 verdict #6): a
    (band, band_hash) bucket holding more than this many docs — the
    LSH degeneracy of boilerplate-heavy corpora, where one template's
    band signature collects millions of members — contributes bucket²
    candidate pairs to the verify join; with the cap, the bucket is
    excluded from BOTH join sides via a broadcast anti-join (hot
    buckets are < n/cap rows by definition). Documented recall trade:
    a pair colliding ONLY in hot buckets is dropped — run
    :func:`band_bucket_audit` first to see the pair mass each cap
    removes. ``None`` (default) keeps full banding recall.

    rows/band r = NUM_PERM/BANDS; a pair with similarity s collides in
    ≥1 band with p = 1-(1-s^r)^BANDS. The constants (r=4, b=8) keep
    r=4's steep selectivity curve at 1/3 fewer permutations and band
    rows than r=4/b=12: recall at s=0.9 is 0.9995 and real near-dup
    pairs sit at s≥0.8 where per-pair recall is 0.985 — the in-repo
    recall pytest (pair set ≡ exact inverted-index baseline at every
    sf) is the guardrail that pins the observed recall at 1.0; widen
    to b=12 (``BANDS = 12``, ``NUM_PERM = 48``, then rebuild every
    ledger) if it ever goes red on new data. Random low-similarity
    pairs (s≈0.3, ubiquitous in shared-vocabulary corpora) collide
    with only 8·0.008 ≈ 6% band probability. r=3 is a trap on such
    corpora — s=0.4 pairs collide at 16·0.064 ≈ 64%, so the "cheaper
    signature" floods the exact-verification join with nearly all N²
    pairs (measured 3.5× wall-time regression at sf0.1).
    The candidate join shuffles (band, band_hash, id) — tiny rows — and
    the exact verification only touches candidate pairs.
    Output: (doc_id_a, doc_id_b, jaccard) — same schema as the exact
    baseline so recall is directly testable.
    """
    with CheckpointScope(df.sparkSession) as scope:
        sets_, banded = _sketch(scope, df, text_col, id_col)
        if max_bucket_size is not None:
            hot = (
                banded.groupBy("band", "band_hash")
                .agg(F.count(F.lit(1)).alias("sz"))
                .where(F.col("sz") > int(max_bucket_size))
                .select("band", "band_hash")
            )
            banded = banded.join(F.broadcast(hot), ["band", "band_hash"], "left_anti")
        return scope.keep(
            _band_pairs(sets_, banded, sets_, banded, threshold, id_col, "doc_id_a", "doc_id_b")
        )


def minhash_lsh_pairs_against(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental near-dedup: MinHash-banded candidates of a NEW batch
    against an EXISTING corpus, verified with exact Jaccard — the
    production shape for ingesting dump N+1 against an already-built
    corpus (only the new batch is sketched from scratch; at warehouse
    scale the corpus side reads a materialized shingle/band table
    instead of recomputing, which is exactly what :func:`_sketch` pins
    for ``corpus_df`` here, see :func:`minhash_pairs_against_ledger`).
    Each side is filled by its own eager count before the band join.

    Same banding math and the same candidates-only verification join as
    :func:`minhash_lsh_pairs`; the band join is new×corpus (no self-join
    triangle condition — the sets are disjoint by contract).
    Output: (new_id, corpus_id, jaccard).
    """
    with CheckpointScope(new_df.sparkSession) as scope:
        new_sets, new_bands = _sketch(scope, new_df, text_col, id_col)
        corp_sets, corp_bands = _sketch(scope, corpus_df, text_col, id_col)
        return scope.keep(
            _band_pairs(
                new_sets, new_bands, corp_sets, corp_bands, threshold, id_col, "new_id", "corpus_id"
            )
        )


def write_minhash_ledger(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the corpus's dedup state as two parquet tables —
    ``{path}/shingles`` (id, shingles) and ``{path}/bands``
    (id, band, band_hash) — so each future ingest batch joins against
    the LEDGER instead of re-sketching the whole corpus (the cost of
    incremental dedup becomes O(batch), not O(corpus)).

    The bands table is repartitioned on ``band_hash`` before writing;
    at warehouse scale, bucket it on the same key (``bucketBy``) so the
    per-batch candidate join co-locates without a corpus-side shuffle.
    :func:`..streaming.dedup.apply_ingest_batch` advances a ledger by
    one batch per committed version.
    """
    with CheckpointScope(df.sparkSession) as scope:
        # both writes read the pinned sketch: one tokenize→shingle pass
        _write_ledger(*_sketch(scope, df, text_col, id_col), path, id_col)


def minhash_pairs_against_ledger(
    new_df: DataFrame,
    ledger_path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`minhash_lsh_pairs_against` with the corpus side read from
    a :func:`write_minhash_ledger` materialization — only the NEW batch
    is tokenized/sketched; the corpus contributes a parquet scan of its
    band table (filter/pushdown-friendly) plus a shingle lookup for the
    verified candidates only. The ledger must have been written with the
    current NUM_PERM/BANDS/SHINGLE_N.
    """
    with CheckpointScope(new_df.sparkSession) as scope:
        new_sets, new_bands = _sketch(scope, new_df, text_col, id_col)
        corp_sets, corp_bands = _read_ledger(new_df.sparkSession, ledger_path, id_col)
        return scope.keep(
            _band_pairs(
                new_sets, new_bands, corp_sets, corp_bands, threshold, id_col, "new_id", "corpus_id"
            )
        )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_name: str = "xxhash64",
) -> DataFrame:
    """SimHash sketch per document: each token votes ±1 on every bit of
    its hash; the sketch keeps bits with positive vote sums.

    ``hash_name`` picks the hash family (``functions.scalars.
    SKETCH_HASHES``): ``xxhash64`` (64-bit, fastest — production
    default) or ``md5_60`` (60-bit, bit-identical in any md5-capable
    engine, so the WHOLE sketch is checkable by a DuckDB differential
    oracle).

    Shape: one map materializes the per-token hash array (each token
    hashed ONCE — the bit extractions below shift a bound lambda
    variable, not re-hash), then one fold accumulates the ±1 votes.
    Map-only, no shuffle, no UDF.
    """
    from data_quality_checks_in_relational_database_spark.functions.scalars import SKETCH_HASHES

    hash_fn, bits = SKETCH_HASHES[hash_name]
    df = rebalance(df)
    toks = tokens(F.col(text_col))
    # stage 1: hash every token once, map-side
    staged0 = df.select(
        F.col(id_col), F.transform(toks, lambda t: hash_fn(t)).alias("__th")
    )
    zero = F.array_repeat(F.lit(0), bits)
    # shiftright needs literal shift amounts, so bit positions are
    # unrolled Python-side (bits → `bits` codegen'd expressions over
    # the already-computed hash value h)
    votes = F.aggregate(
        F.col("__th"),
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int") for i in range(bits)]
            ),
            lambda c, bit: c + (bit * 2 - 1),
        ),
    )
    # materialize votes once so the bit-extractions below don't
    # duplicate the fold in the expression tree
    staged = staged0.select(
        F.col(id_col), F.size(F.col("__th")).alias("n_tokens"), votes.alias("votes")
    )
    sketch = None
    for i in range(bits):
        # 1<<63 doesn't fit signed long; its two's-complement pattern does
        mask = 1 << i if i < 63 else -(1 << 63)
        term = (
            F.when(F.element_at(F.col("votes"), i + 1) > 0, F.lit(mask))
            .otherwise(F.lit(0))
            .cast("long")
        )
        sketch = term if sketch is None else sketch.bitwiseOR(term)
    return staged.select(
        F.col(id_col),
        F.when(F.col("n_tokens") > 0, sketch).alias("simhash"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_name: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming via 4-band
    blocking (band width = sketch bits / 4): by pigeonhole, any pair
    within Hamming ≤ 3 agrees exactly on ≥1 of the 4 bands, so blocking
    on band value has perfect recall while the join only compares
    same-band candidates."""
    from data_quality_checks_in_relational_database_spark.functions.scalars import SKETCH_HASHES

    _, bits = SKETCH_HASHES[hash_name]
    band_bits = bits // 4
    band_mask = (1 << band_bits) - 1
    sh = simhash(df, text_col, id_col, hash_name).filter(F.col("simhash").isNotNull())
    banded = sh.select(
        F.col(id_col).alias("sid"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(band_mask))
                    for b in range(4)
                ]
            )
        ).alias("band", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(
            F.col("a.sid").alias("doc_id_a"),
            F.col("b.sid").alias("doc_id_b"),
            ham.cast("long").alias("hamming"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Pairs of embeddings with cosine ≥ threshold.

    Brute-force self-join baseline (quadratic — correct at any scale
    but only affordable as a verification oracle); the scale path is
    ``similarity.hyperplane_lsh_neardup`` which blocks by random
    hyperplane signature first. Dot products fold in array order in
    double precision (deterministic)."""
    unit = _unit_vectors(df, vec_col, id_col)
    a, b = unit.alias("a"), unit.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.unit"), F.col("b.unit"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("vec_id_a"),
            F.col("b.id").alias("vec_id_b"),
            dot.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _unit_vectors(df: DataFrame, vec_col: str, id_col: str) -> DataFrame:
    """(id, unit) with the vector L2-normalized in double precision."""
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(v, lambda x: x / norm).alias("unit"),
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """All pairs with shingle-set Jaccard ≥ threshold via PREFIX
    FILTERING (Chaudhuri et al. ICDE'06 / Bayardo et al. WWW'07 —
    public all-pairs similarity-join literature): sort every document's
    shingles by a global rarest-first order; if J(A,B) ≥ t, A and B
    MUST share a shingle within their first ``|S| - ceil(t·|S|) + 1``
    shingles — so candidates only need the PREFIX inverted index, and
    the filter is LOSSLESS (recall exactly 1.0 by construction, unlike
    MinHash banding whose recall is probabilistic and pytest-pinned).

    r5: adds PPJoin's POSITIONAL filter (Xiao et al. WWW'08) — for a
    candidate matched on prefix positions (pa, pb) of sets sized
    (sa, sb), the overlap is bounded by
    ``min(pa, pb) + 1 + min(sa-pa-1, sb-pb-1)``; pairs whose bound
    can't reach the Jaccard-equivalent overlap floor
    ``ceil(t·(sa+sb)/(1+t))`` are pruned BEFORE the exact verify. Every
    shared-token row independently bounds the true overlap, so
    filtering per row then deduping stays lossless. Default threshold
    is 0.7: the prefix shrinks to ``(1-t)·|S|+1`` tokens, where prefix
    filtering actually bites (at 0.5 half of every set is prefix).

    Plan shape: one document-frequency aggregation (the global order),
    one keyed join to attach df to shingles, a per-doc sort of its own
    bounded shingle list, prefix posexplode → equi-join on the shingle,
    the integer length prune (``min·1000 ≥ t_milli·max``), the integer
    positional prune, then exact verification from the FULL shingle
    arrays. Shuffles carry prefix shingles (a (1-t)-fraction of the
    index) and candidate pairs — never all pairs. Output and values
    identical to :func:`ngram_jaccard_pairs` (same oracle shape).
    """
    thr_milli = int(round(threshold * 1000))
    with CheckpointScope(df.sparkSession) as scope:
        sets_ = scope.pin(shingle_sets(df, text_col, id_col, n))
        inv = sets_.select(
            F.col(id_col).alias("sid"), F.explode("shingles").alias("shingle")
        )
        dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("sh_df"))
        # per-doc prefix under the global (df asc, shingle asc) order; the
        # collect_list is the doc's OWN shingle set — bounded per row
        p_len = (
            F.col("set_size")
            - F.floor((F.col("set_size") * thr_milli + 999) / 1000)
            + 1
        ).cast("int")
        pref = (
            inv.join(dfreq, "shingle")
            .groupBy("sid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("sh_df"), F.col("shingle")))
                ).alias("ordered"),
                F.count(F.lit(1)).alias("set_size"),
            )
            .select(
                "sid",
                "set_size",
                F.posexplode(F.slice("ordered", 1, p_len)).alias("pos", "p"),
            )
            .select(
                "sid", "set_size", "pos", F.col("p.shingle").alias("shingle")
            )
        )
        a = pref.select(
            F.col("sid").alias("doc_id_a"), F.col("set_size").alias("size_a"),
            F.col("pos").alias("pa"), "shingle",
        )
        b = pref.select(
            F.col("sid").alias("doc_id_b"), F.col("set_size").alias("size_b"),
            F.col("pos").alias("pb"), "shingle",
        )
        # overlap upper bound at the matched positions vs the exact integer
        # overlap floor: O ≥ t(sa+sb)/(1+t)  ⟺  O·(1000+t_milli) ≥
        # t_milli·(sa+sb) for integer O
        ubound = (
            F.least("pa", "pb")
            + 1
            + F.least(
                F.col("size_a") - F.col("pa") - 1,
                F.col("size_b") - F.col("pb") - 1,
            )
        )
        cands = (
            a.join(b, "shingle")
            .where(F.col("doc_id_a") < F.col("doc_id_b"))
            # J ≤ min(|A|,|B|)/max(|A|,|B|): exact integer length prune
            .where(
                F.least("size_a", "size_b") * 1000
                >= F.lit(thr_milli) * F.greatest("size_a", "size_b")
            )
            .where(
                ubound * F.lit(1000 + thr_milli)
                >= F.lit(thr_milli) * (F.col("size_a") + F.col("size_b"))
            )
            .select("doc_id_a", "doc_id_b")
            .dropDuplicates(["doc_id_a", "doc_id_b"])
        )
        return scope.keep(_verify_jaccard(cands, sets_, sets_, threshold, id_col))


def golden_records(
    df: DataFrame,
    key_col: str,
    order_cols: tuple,
    fields: tuple = (),
    modal_fields: tuple = (),
) -> DataFrame:
    """Survivorship merge ("golden record"): collapse every group of
    records sharing ``key_col`` into ONE canonical row by per-field
    rules — the step after entity resolution / CDC landing that MDM
    pipelines run to publish a master table. Two rule families:

    - **recency** (``fields``): the field's value from the LATEST
      record (by ``order_cols``, ties broken by the later columns)
      *whose value is non-null* — a stale non-null beats a fresh null,
      the standard survivorship contract.
    - **frequency** (``modal_fields``): the group's most frequent
      value; ties → smallest value. Robust against one bad feed
      overwriting a stable attribute.

    Plus the bookkeeping every master row carries: ``first_<ord>`` /
    ``last_<ord>`` over the first order column, ``n_records``, and a
    per-recency-field ``n_<field>_nulls`` audit count.

    Scale/determinism: recency fields ride ONE keyed aggregation —
    ``max(struct(order_cols…, field))`` over non-null rows (lexicographic
    struct max ⇒ no window, no second shuffle); modal fields are one
    keyed count + a per-key window each. Integer counts and total
    orderings make every rule deterministic under any partitioning.
    """
    from pyspark.sql.window import Window

    ordc = [F.col(c) for c in order_cols]
    aggs = [
        F.min(order_cols[0]).alias(f"first_{order_cols[0]}"),
        F.max(order_cols[0]).alias(f"last_{order_cols[0]}"),
        F.count(F.lit(1)).cast("long").alias("n_records"),
    ]
    for f in fields:
        aggs.append(
            F.max(F.when(F.col(f).isNotNull(), F.struct(*ordc, F.col(f))))[
                f
            ].alias(f"last_{f}")
        )
        aggs.append(
            F.sum(F.when(F.col(f).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"n_{f}_nulls")
        )
    out = df.groupBy(key_col).agg(*aggs)
    for f in modal_fields:
        w = Window.partitionBy(key_col).orderBy(
            F.col("cnt").desc(), F.col(f).asc()
        )
        modal = (
            df.groupBy(key_col, f)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(key_col, F.col(f).alias(f"modal_{f}"))
        )
        out = out.join(modal, key_col, "left")
    return out


def band_bucket_audit(
    banded: DataFrame,
    band_col: str = "band",
    bucket_col: str = "band_hash",
    cap: int = 100,
) -> DataFrame:
    """Hot-bucket COST audit for banded LSH candidate joins (r5 verdict
    #6) — the pre-flight you run before picking a ``max_bucket_size``
    for :func:`minhash_lsh_pairs` or
    :func:`..operators.multimodal.dhash_near_pairs`. Banded blocking
    degenerates when one bucket collects a giant member list (every
    all-black thumbnail sharing a dHash band; one boilerplate
    template's MinHash band signature): the band equi-join emits
    Σ C(bucket, 2) candidate rows, so a single mega-bucket dominates
    the whole job. This report makes the trade VISIBLE: per band, the
    bucket count/row count/biggest bucket, the total candidate-pair
    mass, and the share of rows and pair mass sitting in buckets
    larger than ``cap`` — i.e. exactly what that cap would drop and
    exactly what it would save.

    Input: one row per (member, band) with the bucket value — the
    same frame the candidate join consumes. Plan: one keyed integer
    aggregation to bucket sizes, one to bands — nothing pair-shaped
    materializes, so the audit is safe to run at any scale the
    banding itself can be built at.

    Output: one row per band —
    ``(band, n_buckets, n_rows, max_bucket, pair_mass, hot_buckets,
    hot_rows, hot_pair_mass)``, ordered by band.
    """
    sizes = banded.groupBy(
        F.col(band_col).alias("band"), F.col(bucket_col).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("sz"))
    # integer DIV keeps pair mass exact BIGINT (sz·(sz−1) is even;
    # a double sum would lose integers past 2^53 on web-scale corpora)
    pair_mass = F.expr("sz * (sz - 1) DIV 2")
    is_hot = F.col("sz") > int(cap)
    return (
        sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("sz").cast("long").alias("n_rows"),
            F.max("sz").cast("long").alias("max_bucket"),
            F.sum(pair_mass).cast("long").alias("pair_mass"),
            F.sum(is_hot.cast("long")).cast("long").alias("hot_buckets"),
            F.sum(F.when(is_hot, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("hot_rows"),
            F.sum(F.when(is_hot, pair_mass).otherwise(0))
            .cast("long")
            .alias("hot_pair_mass"),
        )
        .orderBy("band")
    )
