"""Text-analysis operators for LLM-data-pipeline curation (BASELINE.json
north star; no counterpart in the reference, which is numeric/tabular
only — SURVEY.md §2.8 extensions).

Everything here is pure Column expressions — tokenization, n-gram
shingling, language scoring, quality stats all run JVM-side inside
whole-stage codegen, so they scale linearly with no Python boundary.
Row-level outputs keep the input's partitioning (no shuffle at all);
the aggregate reports shuffle only pre-aggregated integer counters.

Hash-parity note: ratio metrics are emitted as ratios OF INTEGER SUMS
(single final division), never sums of per-row double ratios — double
summation order varies with partitioning and would make results
nondeterministic at scale (and break the DuckDB differential gate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.functions.scalars import token_count
from data_quality_checks_in_relational_database_spark.session import CheckpointScope

#: Marker stopwords per language for the n-gram/markers language-ID
#: heuristic. Deliberately tiny and deterministic: the operator is the
#: point, not the lexicon (swap in a real lexicon in production).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "und", "das", "ist"),
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "los", "las", "por", "que"),
    "fr": ("le", "la", "et", "les", "des"),
    "it": ("il", "di", "che", "per", "non"),
}

#: English stopword slice used by quality scoring.
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(col: Column | str) -> Column:
    """Lower-cased whitespace tokens; empty array for blank text."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(F.lower(c))
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def _index_range(upper: Column) -> Column:
    """[1..upper], or an EMPTY array when upper < 1 — Spark's
    ``sequence(1, 0)`` counts DOWN to [1, 0], which would feed an
    invalid 0 start into ``slice``."""
    return F.when(upper >= 1, F.sequence(F.lit(1), upper)).otherwise(
        F.array().cast("array<int>")
    )


def shingles(tokens_col: Column, n: int = 3) -> Column:
    """Distinct n-token shingles (space-joined) — the unit of fuzzy dedup.

    Pure higher-order expression: for token count < n the result is an
    empty array.
    """
    idx = _index_range(F.size(tokens_col) - (n - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens_col, i, n)))
    return F.array_distinct(grams)


def _count_matches(tokens_col: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens_col, lambda t: t.isin(*words)))


#: BPE-ish pre-tokenization pattern (GPT-2-style word/number/punct/space
#: classes, simplified to the RE2∩Java portable subset): a token is a
#: letter run, a digit run, or a single non-alphanumeric non-space char.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count(col: Column | str) -> Column:
    """Subword-ish token count via the BPE pre-tokenization regex —
    approximates LLM token budgeting far better than whitespace counts
    on punctuated text ("don't" → 3, "3.14" → 3). JVM-side
    ``regexp_extract_all``; NULL text → NULL."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(0))).cast("long")


def quality_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Per-document quality counters: chars, tokens, punctuation chars,
    stopword hits. Counters are integers; ratios are left to the caller
    (aggregate first, divide once)."""
    t = F.col(text_col)
    toks = tokens(t)
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^A-Za-z0-9\s]", ""))
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        F.coalesce(F.length(t), F.lit(0)).cast("long").alias("n_chars"),
        token_count(t).alias("n_tokens"),
        F.coalesce(punct, F.lit(0)).cast("long").alias("n_punct"),
        _count_matches(toks, STOPWORDS).cast("long").alias("n_stopwords"),
    )


def text_quality_report(
    df: DataFrame, group_col: str = "lang", text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bounded per-group quality report: doc counts + integer-sum ratios.

    ``punct_ratio``/``stopword_ratio`` are ratios of integer sums, so
    they are exact and partitioning-independent.
    """
    stats = quality_stats(df, text_col, id_col, keep_cols=[group_col])
    g = stats.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_punct").alias("total_punct"),
        F.sum("n_stopwords").alias("total_stopwords"),
    )
    return g.select(
        group_col,
        "n_docs",
        "total_chars",
        "total_tokens",
        (F.col("total_tokens") / F.col("n_docs")).alias("avg_tokens"),
        (F.col("total_punct") / F.col("total_chars")).alias("punct_ratio"),
        (F.col("total_stopwords") / F.col("total_tokens")).alias("stopword_ratio"),
    )


def detect_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append ``detected_lang`` via marker-word voting.

    Argmax over per-language marker counts; ties resolve to the
    alphabetically-first language; zero total → ``'und'``. The
    when-chain in alphabetical order IS the tie-break (first maximal
    wins), which keeps the SQL oracle twin a mechanical CASE chain.
    """
    toks = tokens(F.col(text_col))
    langs = sorted(LANG_MARKERS)
    scores = {lang: _count_matches(toks, LANG_MARKERS[lang]) for lang in langs}
    total = None
    for s in scores.values():
        total = s if total is None else total + s
    detected = F.when(total == 0, F.lit("und"))
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else cond & c
        detected = detected.when(cond, F.lit(lang))
    return df.withColumn("detected_lang", detected)


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized, lower-cased text.

    The exact-dedup key (SURVEY §2.8 extensions): two documents with the
    same fingerprint are byte-equal after normalization. md5 is used for
    oracle portability; swap for xxhash64 where a 64-bit key is enough.
    """
    norm = F.concat_ws(" ", tokens(F.col(text_col)))
    return df.select(
        F.col(id_col),
        F.md5(norm.cast("binary")).alias("fingerprint"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Per-document n-gram repetition counters: total n-gram
    occurrences vs distinct n-grams. High duplicate fraction flags
    boilerplate/spam — the Gopher-style repetition quality rule for
    LLM corpus filtering. Map-only Column expressions; the token array
    is materialized into its own projection so the shingle lambda
    doesn't re-run the regex split per gram."""
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    total = F.greatest(F.size(F.col("__toks")) - (n - 1), F.lit(0))
    distinct = F.size(shingles(F.col("__toks"), n))
    return staged.select(
        F.col(id_col),
        total.cast("long").alias("n_grams"),
        distinct.cast("long").alias("n_distinct_grams"),
    )


def repetition_report(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-group repetition report; ``dup_ratio`` is a ratio of integer
    sums (one final division — hash-stable at any partitioning)."""
    staged = df.select(
        F.col(id_col), F.col(group_col), tokens(F.col(text_col)).alias("__toks")
    )
    total = F.greatest(F.size(F.col("__toks")) - (n - 1), F.lit(0))
    distinct = F.size(shingles(F.col("__toks"), n))
    per_doc = staged.select(
        F.col(group_col),
        total.cast("long").alias("n_grams"),
        distinct.cast("long").alias("n_distinct_grams"),
    )
    g = per_doc.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").alias("total_grams"),
        F.sum("n_distinct_grams").alias("total_distinct"),
    )
    return g.select(
        group_col,
        "n_docs",
        "total_grams",
        "total_distinct",
        # try_divide: a group with zero grams (all docs < n tokens)
        # reports NULL, not an ANSI divide-by-zero error
        F.round(
            F.lit(1.0) - F.try_divide(F.col("total_distinct"), F.col("total_grams")), 6
        ).alias("dup_ratio"),
    )


def top_terms_tfidf(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 5,
) -> DataFrame:
    """Top TF-IDF terms per group — the standard corpus-characterization
    pass for training-data curation (what distinguishes each source /
    language slice).

    Score(group, term) = total_tf(group, term) × ln(N / df(term)) with
    N = corpus doc count and df = docs containing the term. The term
    frequency is summed as INTEGERS and the idf multiplies once at the
    end, so the double math is a single deterministic product per
    output row (no order-dependent double summation — hash-stable
    across partitionings and engines). Ranking is total: (rounded
    score desc, term asc).

    Shape: one token explode → two grouped integer aggregations (term
    × doc for df, term × group for tf) → broadcast-sized join on term
    stats → per-group top-n window. The explode shuffles (term, id)
    pairs only, never text.
    """
    toks = df.select(
        F.col(id_col), F.col(group_col).alias("grp"), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    n_docs = df.count()  # scalar: corpus size (bounded driver value)
    df_term = toks.groupBy("term").agg(F.count_distinct(id_col).alias("doc_freq"))
    tf_grp = toks.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("total_tf"))
    scored = tf_grp.join(df_term, "term").select(
        F.col("grp").alias(group_col),
        "term",
        "total_tf",
        "doc_freq",
        F.round(
            F.col("total_tf") * F.log(F.lit(float(n_docs)) / F.col("doc_freq")), 6
        ).alias("tfidf"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_n)
    )


def frequent_ngrams(
    df: DataFrame,
    n: int = 5,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide most-frequent n-grams by DOCUMENT frequency —
    boilerplate / template detection (navigation chrome, license
    headers, cookie banners repeat verbatim across millions of pages;
    their top n-grams are the removal worklist).

    Per-document dedup needs no id column: ``shingles`` emits each
    gram at most once per row (array_distinct), so one gram row per
    (doc, gram) reaches the count — counting rows IS document
    frequency.

    Output: (rank, gram, doc_freq), rank 1..top_k by
    (doc_freq DESC, gram ASC) — deterministic under ties.

    Scale shape, two passes so gram TEXT never shuffles at corpus
    volume:

    1. distinct grams per doc (``shingles`` — map-only) → count rows
       per xxhash64(gram): the count shuffle carries 8-byte hashes with
       map-side partial aggregation. The k-th largest count is reduced
       from the top-k slice (TakeOrdered — no global sort) and
       broadcast back as one row; every hash at or above it survives
       (ties INCLUDED, so the final ranking is exact, not
       truncation-order-dependent).
    2. the surviving hashes (≈ top_k rows) broadcast-join the gram
       stream again to recover text — the only gram strings that ever
       reach the driver-side-bounded final window are the winners.

    A 64-bit collision would merge two grams' counts (~2⁻⁶⁴ per pair);
    the differential oracle recomputes from text, so any collision
    surfaces in the gate rather than passing silently.
    """
    from pyspark.sql.window import Window
    from pyspark.storagelevel import StorageLevel

    from data_quality_checks_in_relational_database_spark.functions.scalars import (
        rebalance,
    )

    # spread narrow (single-file) inputs before the per-row HOF
    # shingling — a one-partition scan serializes the whole explode
    staged = rebalance(df.select(F.col(text_col)))
    grams = staged.select(
        F.explode(shingles(tokens(F.col(text_col)), n)).alias("gram")
    )
    hashed = grams.select(F.xxhash64("gram").alias("h"), "gram")
    # persist the aggregated (hash, count) table: the kth-threshold and
    # the surviving-hash branches both consume it, and without the pin
    # each re-runs the full explode+hash+aggregate lineage (measured 3x
    # the corpus scan at sf0.1). 16 bytes/distinct-gram — the warehouse
    # equivalent is materializing the gram-frequency table once.
    counts = (
        hashed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Eager cache fill (the minhash_lsh_pairs move): the kth-threshold
    # and surviving-hash branches otherwise race to fill the cold cache
    # concurrently inside one action and serialize on block locks —
    # measured occasional 5-6 s outliers on a 1.2 s query at sf0.1.
    counts.count()
    kth = (
        counts.orderBy(F.col("doc_freq").desc())
        .limit(top_k)
        .agg(F.min("doc_freq").alias("kth"))
    )
    hot = (
        counts.crossJoin(F.broadcast(kth))
        .filter(F.col("doc_freq") >= F.col("kth"))
        .select("h", "doc_freq")
    )
    winners = hashed.join(F.broadcast(hot), "h").select("gram", "doc_freq").distinct()
    w = Window.orderBy(F.col("doc_freq").desc(), F.col("gram").asc())
    return (
        winners.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("rank", "gram", "doc_freq")
    )


def pmi_collocations(
    df: DataFrame,
    top_k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Top-k adjacent-token collocations by pointwise mutual
    information — multiword-expression mining ("new york", "machine
    learning") for tokenizer vocab curation and corpus characterization.

    PMI(x,y) = ln(P(xy)) − ln(P(x)) − ln(P(y)) with bigram/unigram
    MLE probabilities; pairs below ``min_count`` occurrences are
    dropped (PMI is noise-dominated on rare pairs). Output:
    (x, y, pair_count, pmi, rank), rank by (pmi DESC, x, y) —
    deterministic under ties.

    Scale shape: unigram and bigram count aggregations (map-side
    combined), two hash joins of the bigram table against the
    vocabulary, one broadcast 1-row totals frame, and a distributed
    TakeOrdered top-k — no global sort, no pair materialization beyond
    the bigram count table itself. The log arithmetic is a fixed
    ln(a/b) − ln(c/d) − ln(e/f) shape over exact integer counts, so the
    doubles are reproducible cross-engine (and 6-dp rounded)."""
    from pyspark.sql.window import Window

    from data_quality_checks_in_relational_database_spark.functions.scalars import (
        rebalance,
    )

    staged = rebalance(df.select(F.col(text_col))).select(
        tokens(F.col(text_col)).alias("t")
    )
    idx = _index_range(F.size("t") - 1)
    pair_structs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(F.col("t"), i).alias("x"),
            F.element_at(F.col("t"), i + 1).alias("y"),
        ),
    )
    from pyspark.storagelevel import StorageLevel

    bi = staged.select(F.explode(pair_structs).alias("p")).select("p.x", "p.y")
    uni = staged.select(F.explode("t").alias("x"))
    # pin the two bounded count tables: cu feeds both marginals and the
    # totals row (3 consumers), cb feeds the filter/join and totals —
    # unpinned, each consumer re-runs a corpus explode
    cu = (
        uni.groupBy("x")
        .agg(F.count(F.lit(1)).alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    cb = (
        bi.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    totals = cu.agg(F.sum("n").cast("double").alias("n_uni")).crossJoin(
        cb.agg(F.sum("pair_count").cast("double").alias("n_bi"))
    )
    ux = cu.select(F.col("x"), F.col("n").alias("n_x"))
    uy = cu.select(F.col("x").alias("y"), F.col("n").alias("n_y"))
    scored = (
        cb.filter(F.col("pair_count") >= min_count)
        .join(ux, "x")
        .join(uy, "y")
        .crossJoin(F.broadcast(totals))
        .select(
            "x",
            "y",
            "pair_count",
            F.round(
                F.log(F.col("pair_count").cast("double") / F.col("n_bi"))
                - F.log(F.col("n_x").cast("double") / F.col("n_uni"))
                - F.log(F.col("n_y").cast("double") / F.col("n_uni")),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(
        F.col("pmi").desc(), F.col("x").asc(), F.col("y").asc()
    ).limit(top_k)
    w = Window.orderBy(F.col("pmi").desc(), F.col("x").asc(), F.col("y").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "x", "y", "pair_count", "pmi"
    )


#: PII-style detection patterns, restricted to the Java∩RE2 portable
#: regex subset so the same pattern text runs in Spark (Java regex) and
#: any RE2-based oracle engine. Deliberately conservative (high
#: precision) — production deployments layer locale-specific variants
#: on top via the ``patterns`` argument.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
    "url": r"https?://[^\s]+",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def pattern_scan(
    df: DataFrame,
    patterns: dict[str, str] | None = None,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group totals of regex pattern hits — the PII/policy scan an
    LLM-data pipeline runs before export.

    One JVM-side projection computes every pattern's per-row hit count
    (``regexp_extract_all`` inside codegen — the text is scanned once
    per pattern, never leaves the JVM), then a single grouped sum.
    Output: ``(group_col, n_docs, <name>_hits...)`` — integer totals,
    hash-stable at any partitioning.
    """
    pats = PII_PATTERNS if patterns is None else patterns
    t = F.col(text_col)
    per_row = df.select(
        F.col(group_col),
        *[
            F.size(F.regexp_extract_all(t, F.lit(p), F.lit(0))).cast("long").alias(f"__{name}")
            for name, p in pats.items()
        ],
    )
    return per_row.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(f"__{name}").alias(f"{name}_hits") for name in pats],
    )


def redact_patterns(
    df: DataFrame,
    patterns: dict[str, str] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Replace every pattern match with ``[NAME]`` in ``text_col`` —
    the scrub twin of :func:`pattern_scan`. A chain of JVM-side
    ``regexp_replace`` calls (applied in dict order, so overlapping
    patterns resolve deterministically); all other columns pass
    through untouched."""
    pats = PII_PATTERNS if patterns is None else patterns
    out = F.col(text_col)
    for name, p in pats.items():
        out = F.regexp_replace(out, p, f"[{name.upper()}]")
    return df.withColumn(text_col, out)


def winnowing_fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    hash_name: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprint (rolling k-gram hashes, per-window
    minima) — the standard near-copy detection sketch (Schleimer et al.,
    SIGMOD 2003), expressed entirely in higher-order functions.

    Output: ``(id_col, fingerprints array<bigint>)`` where the array is
    the sorted distinct set of selected k-gram hashes.

    ``hash_name`` (``functions.scalars.SKETCH_HASHES``): ``xxhash64``
    is the production default; ``md5_60`` makes every selected hash
    bit-identical to a DuckDB twin, so the registered query is checked
    end-to-end by the differential oracle rather than rows-only.
    """
    from data_quality_checks_in_relational_database_spark.functions.scalars import (
        SKETCH_HASHES,
        rebalance,
    )

    hash_fn, _ = SKETCH_HASHES[hash_name]
    df = rebalance(df)
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    kgram_idx = _index_range(F.size(toks) - (k - 1))
    hashes = F.transform(kgram_idx, lambda i: hash_fn(F.concat_ws(" ", F.slice(toks, i, k))))
    staged2 = staged.select(F.col(id_col), hashes.alias("__h"))
    win_idx = _index_range(F.size(F.col("__h")) - (window - 1))
    minima = F.transform(win_idx, lambda i: F.array_min(F.slice(F.col("__h"), i, window)))
    return staged2.select(
        F.col(id_col), F.array_sort(F.array_distinct(minima)).alias("fingerprints")
    )


def spans(tokens_col: Column, span_words: int = 16) -> Column:
    """Consecutive non-overlapping ``span_words``-token segments of a
    document (the last span keeps the remainder). The distributed
    stand-in for paragraph splitting on single-line corpora — on real
    web text, split on blank lines first and fall back to this for
    wall-of-text documents."""
    n_spans = F.ceil(F.size(tokens_col) / span_words).cast("int")
    idx = _index_range(n_spans)
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(tokens_col, (i - 1) * span_words + 1, span_words))
    )


def span_dedup_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 16,
) -> DataFrame:
    """CCNet-style sub-document dedup report: which fraction of each
    document's spans ("paragraphs") also occur elsewhere in the corpus
    (any doc, any position — within-doc repeats count too).

    Output: (id_col, n_spans, n_dup_spans, dup_span_fraction).

    Plan shape: spans explode to (xxhash64(span), doc) rows — the
    shuffle carries 8-byte hashes, never span text. Duplicate hashes
    (global count > 1) form a small table joined back broadcast-style
    (AQE picks broadcast when it fits); per-doc counters aggregate
    map-side. Boilerplate-removal (CCNet's actual use) is the same
    plan with a filter instead of the final count.
    """
    toks = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    sp = toks.select(
        F.col(id_col),
        F.explode(spans(F.col("__toks"), span_words)).alias("__span"),
    ).select(F.col(id_col), F.xxhash64("__span").alias("h"))
    dup_h = (
        sp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .select("h", F.lit(1).alias("__dup"))
    )
    marked = sp.join(dup_h, "h", "left")
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.coalesce(F.col("__dup"), F.lit(0))).cast("long").alias("n_dup_spans"),
        F.try_divide(
            F.sum(F.coalesce(F.col("__dup"), F.lit(0))).cast("long"),
            F.count(F.lit(1)),
        ).alias("dup_span_fraction"),
    )


#: (reason, fired-when) rule order for quality_filter — first match
#: wins. Thresholds are integer milli-units compared by CROSS-
#: MULTIPLICATION (n_punct*1000 > limit*n_chars), so the filter is
#: pure integer arithmetic end to end: exact, partitioning-
#: independent, and bit-identical in any SQL engine.
QUALITY_RULES_DOC = (
    "too_short",
    "too_long",
    "high_punct",
    "low_stopword",
    "high_repetition",
)


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: list[str] | None = None,
    min_tokens: int = 20,
    max_tokens: int = 100_000,
    max_punct_milli: int = 150,
    min_stopword_milli: int = 10,
    max_dup_milli: int = 300,
    ngram: int = 3,
    with_fingerprint: bool = False,
) -> DataFrame:
    """C4/Gopher-style composed document filter: per-doc keep/drop with
    the FIRST failing rule as the reason (rule order
    ``QUALITY_RULES_DOC``).

    Output: (doc_id, *keep_cols, n_tokens, keep boolean, reason
    string|NULL [, fingerprint]). One map-only pass: the token array is
    materialized once per row and every counter derives from it — no
    second tokenization, no shuffle until whatever aggregation the
    caller adds. All comparisons are integer cross-multiplications; the
    operator never computes a float ratio. ``with_fingerprint`` appends
    the md5 exact-dedup key from the SAME token array, so a filter →
    dedup pipeline reads and tokenizes the corpus exactly once.
    """
    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        F.col(text_col).alias("__t"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    n_toks = F.size(F.col("__toks")).cast("long")
    n_chars = F.coalesce(F.length(F.col("__t")), F.lit(0)).cast("long")
    n_punct = (
        F.coalesce(
            F.length(F.col("__t"))
            - F.length(F.regexp_replace(F.col("__t"), r"[^A-Za-z0-9\s]", "")),
            F.lit(0),
        )
    ).cast("long")
    n_stop = _count_matches(F.col("__toks"), STOPWORDS).cast("long")
    n_grams = F.greatest(n_toks - (ngram - 1), F.lit(0))
    n_distinct = F.size(shingles(F.col("__toks"), ngram)).cast("long")
    reason = (
        F.when(n_toks < min_tokens, "too_short")
        .when(n_toks > max_tokens, "too_long")
        .when(n_punct * 1000 > F.lit(max_punct_milli) * n_chars, "high_punct")
        .when(n_stop * 1000 < F.lit(min_stopword_milli) * n_toks, "low_stopword")
        .when(
            (n_grams - n_distinct) * 1000 > F.lit(max_dup_milli) * n_grams,
            "high_repetition",
        )
    )
    out_cols = [
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        n_toks.alias("n_tokens"),
        reason.isNull().alias("keep"),
        reason.alias("reason"),
    ]
    if with_fingerprint:
        out_cols.append(
            F.md5(F.concat_ws(" ", F.col("__toks")).cast("binary")).alias("fingerprint")
        )
    return staged.select(*out_cols)


def bm25_topk(
    df: DataFrame,
    query_terms: tuple[str, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 keyword retrieval: top-``k`` documents for a literal
    query-term set. Extension operator (BASELINE.json north star — the
    reference has no text surface).

    Plan shape, sized for 100 TB:

    - one map-only pass computes each doc's length and per-query-term
      term frequency via higher-order filters on the SAME token array —
      the corpus is never exploded; the "posting list" is ``|query|``
      columns wide, not ``|corpus tokens|`` rows long;
    - corpus statistics (N, total length, per-term document frequency)
      reduce to ONE row (map-side partial aggregation) that re-enters
      via an explicit broadcast cross-join — no shuffle of the corpus;
    - the score is a FIXED-ORDER sum over query terms inside a single
      projection, so the double result is partition-order independent
      (hash-stable after rounding);
    - top-k is ``orderBy(...).limit(k)`` — Spark's distributed
      TakeOrdered, never a global sort.
    """
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    nq = len(query_terms)

    def _tf(word: str) -> Column:
        # single-arg lambda — a 2-arg lambda would be read by Spark's
        # HOF binder as (element, index) and shadow the closure.
        return F.size(F.filter(F.col("__toks"), lambda t: t == F.lit(word))).cast("long")

    per_doc = staged.select(
        F.col(id_col),
        F.size(F.col("__toks")).cast("long").alias("dl"),
        *[_tf(w).alias(f"tf_{i}") for i, w in enumerate(query_terms)],
    )
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(nq)
        ],
    )
    scored = per_doc.join(F.broadcast(stats))
    n = F.col("n_docs").cast("double")
    avgdl = F.col("total_dl").cast("double") / n
    score: Column = F.lit(0.0)
    for i in range(nq):
        tf = F.col(f"tf_{i}").cast("double")
        dfreq = F.col(f"df_{i}").cast("double")
        idf = F.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        score = score + idf * (
            tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * F.col("dl").cast("double") / avgdl))
        )
    out = scored.select(
        F.col(id_col),
        F.col("dl").alias("doc_len"),
        F.round(score, 6).alias("bm25"),
    )
    return out.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)


def unigram_lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style unigram language-model quality score: train an
    add-one-smoothed unigram model ON the corpus itself, then score
    every document by its mean token log-probability (low = gibberish /
    boilerplate outlier, the cheap proxy for LM-perplexity filtering in
    web-scale curation pipelines).

    Scale notes:

    - token explode → groupBy(doc, token) keeps map-side partial
      aggregation (duplicate tokens in a doc combine before shuffle);
    - the model (token → corpus count) is the SAME aggregate taken one
      level higher, so training and scoring share one shuffled pass;
      the scoring join is token-keyed shuffle-shuffle (the vocab of a
      100 TB corpus does not broadcast);
    - corpus totals (T tokens, V vocab) are a single broadcast row;
    - the per-doc sum of ``tf · ln p`` folds over the token-sorted
      array (array_sort + aggregate), so the double sum has ONE
      evaluation order regardless of partitioning — exactly
      hash-stable, not rounding-probably-stable.

    Docs with no tokens produce no output row (nothing to score).
    Output: (doc_id, n_tokens, avg_logprob) — lower is rarer/noisier.
    """
    toks = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").cast("long").alias("tf"))
    vocab = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    totals = vocab.agg(
        F.sum("c").cast("double").alias("t_total"),
        F.count("*").cast("double").alias("v_size"),
    )
    lp = F.col("tf").cast("double") * F.log(
        (F.col("c").cast("double") + 1.0) / (F.col("t_total") + F.col("v_size"))
    )
    scored = (
        tf.join(vocab, "tok")
        .join(F.broadcast(totals))
        .select(F.col(id_col), F.col("tf"), F.col("tok"), lp.alias("lp"))
    )
    return scored.groupBy(id_col).agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.round(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct(F.col("tok").alias("t"), F.col("lp").alias("lp")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["lp"],
            )
            / F.sum("tf").cast("double"),
            6,
        ).alias("avg_logprob"),
    )


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
    prec: int = 6,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """fastText-style linear-classifier INFERENCE: every token hashes
    into one of ``n_buckets`` weight buckets, the document score is the
    mean bucket weight, the label is its sign. This is the quality-
    filter shape used by web-scale curation pipelines (a linear model
    over hashed token features, applied map-only to every document).

    The bucket weights here are derived deterministically from the
    bucket id (``(bucket % 2001 - 1000) / 1000`` — a fixed pseudo-model
    standing in for trained parameters, so the differential oracle can
    replay inference exactly in SQL); swapping in a real model means
    replacing that one expression with a lookup against a broadcast
    weights array. The hash is the engine-portable ``md5_u60``.

    Map-only: tokenize → transform to weights → fixed-order fold →
    mean. No shuffle, no UDF; docs with no tokens score NULL.

    Output: (id, *keep_cols, n_tokens, score, keep) with score rounded
    to ``prec`` (+0.0 canonicalizes negative zero) and keep = score
    >= 0. ``keep_cols`` pass through the map-only pass (same pattern
    as :func:`quality_filter`) so callers needing e.g. a label column
    alongside the score don't re-scan the corpus and join it back on
    the id (r9: that join was a second full scan + a corpus-wide
    shuffle in every classifier-vs-label query).
    """
    from data_quality_checks_in_relational_database_spark.functions.scalars import md5_u60

    clash = {id_col, "n_tokens", "score", "keep"}.intersection(keep_cols or [])
    if clash:
        raise ValueError(f"keep_cols would duplicate output columns: {sorted(clash)}")
    toks = tokens(F.col(text_col))

    def w(t: Column) -> Column:
        bucket = md5_u60(t) % F.lit(n_buckets)
        return (bucket % F.lit(2001) - F.lit(1000)).cast("double") / F.lit(1000.0)

    staged = df.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        F.transform(toks, w).alias("__w"),
    )
    total = F.aggregate("__w", F.lit(0.0), lambda acc, v: acc + v)
    n = F.size("__w")
    score = F.when(
        n > 0, F.round(total / n.cast("double"), prec) + F.lit(0.0)
    )
    return staged.select(
        F.col(id_col),
        *[F.col(c) for c in (keep_cols or [])],
        n.cast("long").alias("n_tokens"),
        score.alias("score"),
        (score >= 0).alias("keep"),
    )


def sliding_window_dup_report(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring duplication coverage via SLIDING k-token
    windows — the Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better") substring-dedup shape, re-expressed as
    hash joins instead of a suffix array: a window is *shared* when
    the identical k-gram occurs in at least one OTHER document, and a
    document's duplicated region is the union of its shared windows.

    Per document: token/window totals, shared-window count, number of
    maximal shared RUNS (gaps-and-islands over window positions — each
    island is one copied span), tokens covered by those spans, and the
    covered-token fraction. This is the span-granular complement of
    ``span_dedup_report`` (fixed disjoint blocks) and MinHash
    (document-granular, fuzzy).

    ``covered_tokens`` is the size of the interval UNION of the island
    spans: two islands closer than ``k`` window positions have
    overlapping k-token spans, so each island's span end is clamped at
    the next island's start (``least(p2+k-1, lead(p1)-1)``) before
    summing — coverage can therefore never exceed 1.0.

    Scale shape: window generation is a map-only higher-order
    expression; the shared-set shuffle carries (hash, doc) pairs with
    xxhash64 64-bit keys, never gram text; islands need one
    window-function pass partitioned BY DOCUMENT (no global ordering).
    All joins are equi-joins on hashes/ids. A 64-bit gram-hash
    collision could mark a window shared spuriously (~n^2/2^64 —
    standard fingerprint-dedup practice at corpus scale)."""
    from pyspark.sql.window import Window

    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    idx = _index_range(F.size(F.col("__toks")) - (k - 1))
    wins = base.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(
                        F.concat_ws(" ", F.slice(F.col("__toks"), i, k))
                    ).alias("h"),
                ),
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    shared = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    sw = wins.join(shared, "h")
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        sw.withColumn("grp", F.col("pos") - F.row_number().over(w_ord))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("p1"),
            F.max("pos").alias("p2"),
            F.count(F.lit(1)).alias("nw"),
        )
    )
    # interval union: an island covers token span [p1, p2+k-1]; clamp
    # the span end at the NEXT island's start so overlapping spans
    # (position gap < k) are not double-counted
    w_isl = Window.partitionBy("doc_id").orderBy("p1")
    clamped = islands.withColumn(
        "cov",
        F.least(
            F.col("p2") + F.lit(k - 1),
            F.coalesce(
                F.lead("p1").over(w_isl) - 1, F.col("p2") + F.lit(k - 1)
            ),
        )
        - F.col("p1")
        + 1,
    )
    per_doc = clamped.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("cov").alias("covered"),
        F.sum("nw").alias("nshared"),
    )
    totals = base.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        F.greatest(F.size("__toks") - (k - 1), F.lit(0)).alias("n_windows"),
    )
    rep = totals.join(per_doc, "doc_id", "left")
    return rep.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_windows").cast("long").alias("n_windows"),
        F.coalesce("nshared", F.lit(0)).cast("long").alias("n_shared_windows"),
        F.coalesce("n_islands", F.lit(0)).cast("long").alias("n_islands"),
        F.coalesce("covered", F.lit(0)).cast("long").alias("covered_tokens"),
        (
            F.round(
                F.when(
                    F.col("n_tokens") > 0,
                    F.coalesce("covered", F.lit(0)) / F.col("n_tokens"),
                ).otherwise(F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("dup_coverage"),
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    idf_scale: int = 1_000_000,
    max_doc_freq: int | None = None,
    prec: int = 6,
    max_candidates_per_posting: int | None = None,
) -> DataFrame:
    """All document pairs with TF-IDF cosine similarity ≥ ``threshold``
    over n-token-gram terms, by inverted index — the VECTOR-space text
    near-dup detector between the set-based recipes
    (:func:`..operators.dedup.ngram_jaccard_pairs` ignores term
    frequency; ``idf_weighted_jaccard`` weights but still
    set-normalizes) and the dense embedding path
    (:mod:`..operators.similarity`): repetition counts, and the cosine
    norm rewards concentrated overlap. Terms are n-grams, not unigrams,
    BY DESIGN: unigram vocabularies are head-heavy (on the test corpus
    31 terms with max df = 0.8·N ⇒ postings self-join ≈ all-pairs);
    n-grams push df down so Σdf² — the inverted-index join size — stays
    near-linear. An optional ``max_doc_freq`` cap drops boilerplate
    grams from the VOCABULARY (index *and* norms: the output is then
    exactly "cosine over the capped vocabulary", a documented contract
    change, not a lossy approximation of the uncapped one).

    Exact-integer contract (the ``doc_rarity``/``idf_weighted_jaccard``
    convention): per-gram weights are integer micro-idf × tf
    (``tf · round(ln(N/df)·idf_scale)`` as BIGINT), so dot products and
    squared norms are exact integer sums under any partitioning; the
    cosine is ONE closed-form double expression per pair. Int64 bounds:
    w ≤ tf·ln(N)·10⁶ (N = 10⁹ docs ⇒ idf ≤ 2.1·10⁷); Σw² per doc and
    per-pair dots stay < 2⁶³ for docs up to ~10⁴ grams — comfortably
    inside the 100 TB envelope.

    Output: ``(doc_id_a, doc_id_b, cosine)`` with a < b, cosine rounded
    to ``prec``. Only pairs sharing ≥1 surviving gram materialize.

    Pins ``tf``/``widx`` in one ``session.CheckpointScope`` and returns
    the kept (checkpointed) result; no pin outlives the call or its raise.
    """
    staged = df.select(F.col(id_col), F.col(text_col))
    from data_quality_checks_in_relational_database_spark.functions.scalars import (
        rebalance,
    )

    toks = rebalance(staged).select(
        F.col(id_col).alias("sid"), tokens(F.col(text_col)).alias("toks")
    )
    idx = _index_range(F.size(F.col("toks")) - (n - 1))
    grams = toks.select(
        "sid",
        F.explode(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, n)))
        ).alias("term"),
    )
    with CheckpointScope(df.sparkSession) as scope:
        # tf is consumed by FOUR subtrees (the n_docs scalar, dfreq,
        # and, via widx, the norms pass and both sides of the postings
        # self-join); column pruning pushes a different projection into
        # each, so exchange reuse cannot merge them and an unpinned plan
        # re-runs tokenize→gram-explode→count per consumer (measured: 16
        # parquet scans, 0 ReusedExchange in the r8 before-plan; ~4.5 s
        # at sf0.1). Pin the postings table once, the same
        # materialize-the-narrow-intermediate move the dedup pipeline
        # makes for shingle sets.
        tf = scope.pin(grams.groupBy("sid", "term").agg(F.count(F.lit(1)).alias("tf")))
        n_docs = tf.select("sid").distinct().count()  # 1 scalar + eager cache fill
        if n_docs == 0:
            return df.sparkSession.createDataFrame(
                [], schema="doc_id_a long, doc_id_b long, cosine double"
            )
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        if max_doc_freq is not None:
            dfreq = dfreq.where(F.col("df") <= max_doc_freq)
        # zero-weight terms (df = N ⇒ idf 0) contribute nothing to dots
        # or norms but own the LARGEST postings lists — dropping them is
        # both the pruning win and the zero-norm guard (a doc made
        # entirely of such terms has no vector; its pairs vanish with it
        # instead of dividing by a zero norm under ANSI mode). widx
        # feeds three subtrees (norms + both self-join sides): pin it
        # and fill eagerly — three branches hitting a cold cache
        # concurrently inside one action would each recompute the fill.
        widx = tf.join(dfreq, "term").select(
            "sid",
            "term",
            (
                F.col("tf")
                * F.round(
                    F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
                    * idf_scale
                ).cast("long")
            ).alias("w"),
        ).where(F.col("w") != 0)
        widx = scope.pin(widx)
        widx.count()
        if max_candidates_per_posting is not None:
            # ENFORCED candidate budget (r6 verdict #5): the postings
            # self-join materializes Σ C(df, 2) candidate rows over the
            # SURVIVING vocabulary — a saturating vocabulary (boilerplate
            # grams shared corpus-wide) sends that quadratic while the
            # output stays small. Price it with one keyed aggregation
            # BEFORE building the join; refuse loudly past the budget
            # and name the capped twin (max_doc_freq drops the saturated
            # grams from the vocabulary — an exact contract change, not
            # a lossy approximation).
            from data_quality_checks_in_relational_database_spark.operators.fuzzy import (
                _enforce_candidate_budget,
            )

            _enforce_candidate_budget(
                widx.select(F.col("term").alias("blk0")),
                n_block_cols=1,
                max_pairs_per_record=max_candidates_per_posting,
                op_name="tfidf_cosine_pairs",
                alternative=(
                    "pass max_doc_freq to drop the saturated grams from the "
                    "vocabulary (the tfidf_cosine_pairs_capped contract), or "
                    "raise n so grams carry more context and df falls."
                ),
            )
        norms = widx.groupBy("sid").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
        a, b = widx.alias("a"), widx.alias("b")
        dots = (
            a.join(
                b,
                (F.col("a.term") == F.col("b.term")) & (F.col("a.sid") < F.col("b.sid")),
            )
            .groupBy(F.col("a.sid").alias("doc_id_a"), F.col("b.sid").alias("doc_id_b"))
            .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
        )
        na = norms.select(F.col("sid").alias("doc_id_a"), F.col("n2").alias("na2"))
        nb = norms.select(F.col("sid").alias("doc_id_b"), F.col("n2").alias("nb2"))
        cos = F.col("dot").cast("double") / (
            F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))
        )
        return scope.keep(
            dots.join(na, "doc_id_a")
            .join(nb, "doc_id_b")
            .where(cos >= threshold)
            .select("doc_id_a", "doc_id_b", F.round(cos, prec).alias("cosine"))
        )
