"""Fleet-of-sources catalogs.

The reference operates on a *fleet* of homogeneous MySQL schemas
(one per health facility) enumerated at runtime with ``SHOW DATABASES``
and a name-prefix filter (``data_consistency_checks.py:39-41``), then
loops over them serially. Here a catalog abstraction provides
enumeration + existence checks + reads; the fan-out runner
(``operators.fanout``) stacks every source's copy of a table into ONE
source-tagged frame and runs the check once over the stack, so Spark
plans one scan per table for the whole fleet instead of a driver loop
over per-source plans (SURVEY.md §3 "Spark lifecycle").

Two implementations:

- :class:`SparkCatalog` — real Spark catalog databases/tables (what a
  production deployment over JDBC-federated or lakehouse sources uses);
  ``SHOW DATABASES`` → ``spark.sql("SHOW DATABASES")``, existence →
  ``spark.catalog.tableExists`` (replaces the reference's error-1146
  string sniffing, ``data_consistency_checks.py:93-108``).
- :class:`ParquetDirCatalog` — each "database" is a directory of
  ``<table>.parquet``; used by the test harness over the driver's
  testdata, and representative of a partition-per-source data lake.
  A table's schema is inferred once per catalog, with one merged
  footer scan over every source's file, so reads start no Spark job.
"""

from __future__ import annotations

import os
from abc import ABC, abstractmethod

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class FleetCatalog(ABC):
    """Enumerate homogeneous sources and read tables from them."""

    @abstractmethod
    def list_sources(self, prefix: str = "") -> list[str]:
        """All source names, filtered to ``prefix`` (reference: the
        ``startswith('openmrs_')`` mask, ``data_consistency_checks.py:41``)."""

    @abstractmethod
    def table_exists(self, source: str, table: str) -> bool:
        """Existence pre-check replacing error-1146 sniffing."""

    @abstractmethod
    def read(self, source: str, table: str) -> DataFrame:
        """Lazy scan of one table of one source."""


class SparkCatalog(FleetCatalog):
    """Sources are Spark catalog databases (metastore/lakehouse)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def list_sources(self, prefix: str = "") -> list[str]:
        df = self.spark.sql("SHOW DATABASES")
        if prefix:
            df = df.filter(F.col("namespace").startswith(prefix))
        return [r[0] for r in df.collect()]  # bounded: one row per database

    def table_exists(self, source: str, table: str) -> bool:
        return self.spark.catalog.tableExists(f"`{source}`.`{table}`")

    def read(self, source: str, table: str) -> DataFrame:
        return self.spark.table(f"`{source}`.`{table}`")


class SlicedFleetCatalog(FleetCatalog):
    """Fleet = horizontal slices of shared tables.

    The realistic 100 TB shape of the reference's per-facility schema
    fleet is a single partitioned lake table with a site/facility
    partition column (SURVEY.md §1.1): each "source" is a partition
    predicate, so per-source reads are partition-pruned scans of one
    table, not N separate connections. ``missing`` marks (source,
    table) pairs as absent to model the reference's missing-table skip
    path (``data_consistency_checks.py:93-108``) deterministically.
    """

    def __init__(
        self,
        tables: dict[str, DataFrame],
        slices: dict[str, "Column"],
        missing: set[tuple[str, str]] | None = None,
    ):
        """``tables``: shared table name → DataFrame; ``slices``: source
        name → boolean Column predicate selecting that source's rows."""
        self.tables = dict(tables)
        self.slices = dict(slices)
        self.missing = set(missing or ())

    def list_sources(self, prefix: str = "") -> list[str]:
        return sorted(s for s in self.slices if s.startswith(prefix))

    def table_exists(self, source: str, table: str) -> bool:
        return source in self.slices and table in self.tables and (source, table) not in self.missing

    def read(self, source: str, table: str) -> DataFrame:
        return self.tables[table].filter(self.slices[source])


class ParquetDirCatalog(FleetCatalog):
    """Sources are directories containing ``<table>.parquet`` files."""

    def __init__(self, spark: SparkSession, root_to_sources: dict[str, str]):
        """``root_to_sources`` maps source name → directory path."""
        self.spark = spark
        self.sources = dict(root_to_sources)
        # table → merged schema of every source's file, or None when the
        # sources' types conflict and each read infers its own
        self._schemas: dict[str, StructType | None] = {}

    def list_sources(self, prefix: str = "") -> list[str]:
        return sorted(s for s in self.sources if s.startswith(prefix))

    def _path(self, source: str, table: str) -> str:
        return os.path.join(self.sources[source], f"{table}.parquet")

    def table_exists(self, source: str, table: str) -> bool:
        return source in self.sources and os.path.exists(self._path(source, table))

    def _schema(self, table: str) -> StructType | None:
        """One ``mergeSchema`` footer scan over every source's file for
        ``table`` (one Spark job per table, whatever the fleet size).
        Columns a source lacks read as NULL there. Types that cannot
        merge (e.g. int32 in one source, int64 in another) fall back to
        per-source inference; the fan-out's union then widens them."""
        if table not in self._schemas:
            paths = [self._path(s, table) for s in self.sources if self.table_exists(s, table)]
            try:
                merged = self.spark.read.option("mergeSchema", "true").parquet(*paths).schema
            except Py4JJavaError as e:  # the JVM's SparkException
                if "CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE" not in str(e):
                    raise
                merged = None
            self._schemas[table] = merged
        return self._schemas[table]

    def read(self, source: str, table: str) -> DataFrame:
        path = self._path(source, table)
        schema = self._schema(table) if os.path.exists(path) else None
        if schema is None:
            return self.spark.read.parquet(path)
        return self.spark.read.schema(schema).parquet(path)
