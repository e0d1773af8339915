"""Count-min sketch — mergeable sub-linear frequency estimation.

The streaming/warehouse answer to "top-k keys by count" when the key
domain is too large for an exact group-by to be cheap: a d×w counter
matrix (d independent hash rows) built in ONE map-side-combined
aggregation; any key's count estimate is the MIN of its d counters
(Cormode & Muthukrishnan 2005). Estimates only ever OVER-count
(collisions add), with error ≤ εN at ε = e/w with probability
1 − (1/2)^d — the sketch is a contract, not a heuristic.

Like the repo's HLL sketches (``operators/profile.py``), the hashes
are md5-derived so ANY engine reproduces the sketch bit-for-bit —
the DuckDB oracle replays the exact counters, making even this
"approximate" operator fully differential (the quantized_topk
pattern: approximate-by-design but deterministic given the input).

Scale shape: the counter build shuffles (row, bucket) partial sums —
at most d·w cells regardless of input size — and merging two sketches
is cell-wise addition, so per-partition/per-day sketches roll up
without touching raw data again. No counterpart in the reference
(BASELINE.json sketch-family extension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["cms_hash", "cms_counters", "cms_topk"]


def cms_hash(key: Column, row: int, width: int) -> Column:
    """Row-r bucket of ``key``: low-60-bit md5 of ``"r_key"`` mod width.
    Engine-portable: DuckDB spells it
    ``CAST('0x'||substr(md5(r||'_'||key),1,15) AS BIGINT) % width``."""
    h = F.conv(F.substring(F.md5(F.concat_ws("_", F.lit(str(row)), key)), 1, 15), 16, 10)
    return (h.cast("long") % width).alias(f"b{row}")


def cms_counters(
    df: DataFrame, key_col: str, depth: int = 4, width: int = 512
) -> DataFrame:
    """Build the sketch: (row, bucket, cnt) — ≤ depth·width rows total.

    One explode (depth structs per input row) + one map-side-combined
    count; the output is the mergeable sketch state (union two sketches
    and re-sum to merge).
    """
    key = F.col(key_col).cast("string")
    probes = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("row"),
                cms_hash(key, r, width).cast("long").alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    # NULL keys are skipped, not sketched: a frequency estimate for
    # "unknown key" is meaningless, and SQL replays drop them anyway
    # ('r_' || NULL is NULL) — explicit here so both engines agree
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(F.explode(probes).alias("p"))
        .groupBy(F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_topk(
    df: DataFrame,
    key_col: str,
    k: int = 20,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Top-k keys by CMS-estimated count, with the exact count and the
    over-count bound alongside.

    Output: (key, est_count, exact_count, overestimate, within_bound),
    rank-ordered implicitly by the top-k filter; ``overestimate`` =
    est − exact ≥ 0 always (CMS never undercounts), ``within_bound``
    pins est − exact ≤ ⌈e/width · N⌉ — the sketch's ε-guarantee made a
    checkable column.

    The candidate keys here come from an exact distinct over the input
    (fine at any scale where the distinct fits a shuffle); in a pure
    streaming deployment candidates come from the arrival stream
    itself (every key consults the sketch on arrival) — the sketch
    build is identical.
    """
    import math

    from pyspark import StorageLevel

    # ONE scan (r9; was three: counter-build scan + exact-count scan +
    # a count() job for N). Every CMS bucket is a function of the KEY
    # alone, so the d×w counter matrix is the per-key exact counts
    # re-summed by bucket — bit-identical to sketching the input row by
    # row (integer addition is associative) — and N (the ε-bound's
    # total updates) is the sum of the exact counts. The d md5 probes
    # are computed once per KEY instead of once per input row, and the
    # explode multiplies |keys| rows, not |input| rows (guide §8:
    # decide on the lightweight proxy). ``cms_counters`` keeps the
    # row-by-row build — it is the mergeable streaming-state operator;
    # this derivation is only valid when the exact counts are computed
    # anyway.
    key_probes = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("row"),
                cms_hash(F.col("key"), r, width).cast("long").alias("bucket"),
            )
            for r in range(depth)
        ]
    )
    # pinned: two consumers below (counter re-sum, probe side of the
    # estimate join); the frame is depth·|keys| narrow rows. No eager
    # fill — the first-touch race is perf-only and eager fills measured
    # wash-or-loss on the sibling shapes (r9).
    keys = (
        df.filter(F.col(key_col).isNotNull())
        .groupBy(F.col(key_col).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .select("key", "exact_count", F.explode(key_probes).alias("p"))
        .select("key", "exact_count", F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the ε bound's N rides the bounded counters table: each key
    # carries exact_count on all ``depth`` probe rows, so every probe
    # row's counters sum to N exactly; the double arithmetic matches the
    # old driver-side int(math.ceil(math.e / width * N)) op for op (same
    # literal e/width, one multiply, one ceil)
    counters = (
        keys.groupBy("row", "bucket")
        .agg(F.sum("exact_count").alias("cnt"))
        .withColumn("n_sketched", F.sum("cnt").over(Window.partitionBy("row")).cast("double"))
    )
    # counters table is bounded (depth·width rows) -> broadcast join
    est = (
        keys.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("key", "exact_count")
        .agg(F.min("cnt").alias("est_count"), F.max("n_sketched").alias("n_sketched"))
    )
    bound = F.ceil(F.lit(math.e / width) * F.col("n_sketched"))
    return (
        est.orderBy(F.col("est_count").desc(), F.col("key").asc())
        .limit(k)
        .select(
            "key",
            F.col("est_count").cast("long").alias("est_count"),
            F.col("exact_count").cast("long").alias("exact_count"),
            (F.col("est_count") - F.col("exact_count")).cast("long").alias("overestimate"),
            ((F.col("est_count") - F.col("exact_count")) <= bound).alias(
                "within_bound"
            ),
        )
        .orderBy(F.col("est_count").desc(), F.col("key").asc())
    )
