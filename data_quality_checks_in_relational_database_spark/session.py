"""SparkSession construction and testdata table loading.

Scale notes (100 TB design point):
- AQE is enabled so skewed reconciliation joins and under/over-sized
  shuffles re-plan at runtime (coalesce partitions, skew-join split).
- ``spark.sql.shuffle.partitions`` defaults to 32 for local[32] test
  runs; on a 1000-executor cluster this is overridden by AQE's
  coalescing from a large initial value, so we only set it when we are
  creating the session ourselves.
- Session timezone is pinned to UTC so ``to_date(ts)`` and date
  arithmetic are storage-stable (identical across driver locales and
  identical to the DuckDB oracle, which is timezone-naive).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

#: Tables the driver materializes at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def get_spark(
    app_name: str = "spark-dq-engine",
    master: str | None = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    The configs below are safe on a real cluster: AQE and UTC are
    best-practice defaults; shuffle partitions only matter as the AQE
    *initial* value.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        # Spark's default driver heap is 1g; in local[N] mode the
        # "executors" are threads INSIDE that driver JVM, so N=32 cores
        # share 1 GiB and every bench run degenerates into GC thrash
        # (measured: 2-10x run-to-run variance at sf0.1). Only honored
        # at JVM launch — a no-op when attaching to a live session
        # (e.g. the driver's vanilla gate session or spark-submit,
        # where the submitter owns the setting).
        .config(
            "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # overwrite replaces only the partitions present in the written
        # frame — idempotent per-slice refresh for partitioned sinks
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    if master:
        builder = builder.master(master)
    return builder.getOrCreate()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan tolerant of TIMESTAMP(NANOS) columns.

    The driver's ``events.parquet`` stores ``ts`` as parquet
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects. We read
    nanos as LongType (``spark.sql.legacy.parquet.nanosAsLong``) and
    convert to TimestampType via integer division — lossless for the
    testdata (values are µs-precision) and still a fully vectorized
    columnar scan.
    """
    if _has_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _convert_nanos(spark, spark.read.parquet(path), path)
    try:
        return spark.read.parquet(path)
    except Exception as exc:  # AnalysisException: PARQUET_TYPE_ILLEGAL
        # fallback for stores pyarrow can't probe (non-local paths)
        if "PARQUET_TYPE_ILLEGAL" not in str(exc):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return _convert_nanos(spark, spark.read.parquet(path), path)


def _has_nanos(path: str) -> bool:
    """Cheap driver-side footer probe for TIMESTAMP(NANOS) columns."""
    local = path.replace("file:", "")
    if not os.path.exists(local):
        return False
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pq.read_schema(local)
        return any(pa.types.is_timestamp(f.type) and f.type.unit == "ns" for f in schema)
    except Exception:
        return False


def _convert_nanos(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Cast nanos-as-long timestamp columns back to TimestampType."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    arrow_schema = pq.read_schema(path.replace("file:", ""))
    out = df
    for field in arrow_schema:
        import pyarrow as pa

        if pa.types.is_timestamp(field.type) and field.type.unit == "ns":
            # integer `div`: double division would lose precision on
            # ns-epoch magnitudes (~1.7e18 > 2^53)
            out = out.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    return out


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables from ``sf_dir`` as DataFrames.

    Columnar vectorized parquet scans; Catalyst prunes columns and
    pushes predicates into the scan (replaces the reference's
    hand-written SQL pushdown, SURVEY.md §4).
    """
    return {t: _read_parquet(spark, f"{sf_dir}/{t}.parquet") for t in tables}


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view for Spark SQL use."""
    dfs = load_tables(spark, sf_dir, tables)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


class CheckpointScope:
    """Lifetime of the caches and checkpoint blocks one operator call
    makes::

        with CheckpointScope(spark) as scope:
            edges = scope.pin(frame)          # persisted
            x = scope.checkpoint(frame)       # lazy localCheckpoint
            return scope.keep(result)         # eager; outlives the block

    ``localCheckpoint`` blocks are NOT freed by ``unpersist()`` /
    ``clearCache()``; left alone, per-round checkpoints accumulate for
    the session's lifetime and degrade the whole executor (observed:
    unrelated queries 2× slower after a few calls). The exit unpersists
    every pinned frame through its DataFrame (freeing only its RDD
    would leave the CacheManager entry behind) and frees every
    checkpoint except the kept result's; leaving by an exception frees
    that one too. Only what was registered here is freed: a caller's
    lazily cached input that the call happens to fill stays cached.
    """

    def __init__(self, spark: SparkSession) -> None:
        self._jsc = spark.sparkContext._jsc
        self._pins: list[DataFrame] = []
        self._rdds: list[int] = []
        self._kept: int | None = None

    def __enter__(self) -> CheckpointScope:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        for df in self._pins:
            df.unpersist()
        live = self._jsc.getPersistentRDDs()
        for i in self._rdds:
            if (exc_type is not None or i != self._kept) and live.containsKey(i):
                live.get(i).unpersist(False)

    def pin(self, df: DataFrame) -> DataFrame:
        """``df`` persisted (memory, spilling to disk) until the exit."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._pins.append(df)
        return df

    def checkpoint(self, df: DataFrame, eager: bool = False) -> DataFrame:
        """``df.localCheckpoint`` (lazy by default), freed at the exit."""
        out = df.localCheckpoint(eager=eager)
        # the checkpointed RDD backs the LogicalRDD the new frame wraps
        self._rdds.append(out._jdf.queryExecution().logical().rdd().id())
        return out

    def keep(self, df: DataFrame) -> DataFrame:
        """``df`` checkpointed eagerly, detached from every pin and
        checkpoint above it; its blocks outlive the scope."""
        out = self.checkpoint(df, eager=True)
        self._kept = self._rdds[-1]
        return out
