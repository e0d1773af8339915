"""Fleet fan-out runner with missing-table tolerance (SURVEY.md §2.8 #5).

The reference loops serially over N MySQL schemas, catching error 1146
and sniffing the missing table out of the error string
(``data_consistency_checks.py:85-116``). Here: enumerate sources from a
:class:`~..sources.catalog.FleetCatalog`, pre-check table existence
(cheap metadata op), then stack each required table across every
surviving source into ONE frame tagged with :data:`SOURCE_COL` and run
the check once over the stacks. The check aggregates by source, so the
number of plans (and of Spark jobs) does not grow with the fleet: the
Dremel shape of one scan over many tablets, not one query per tablet.
The driver never touches row data; it only assembles plans and the
bounded audit counters.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.sources.catalog import FleetCatalog

#: reserved column naming the source each stacked row was read from
SOURCE_COL = "_fleet_source"


@dataclass
class FanoutReport:
    """The check's output over the stacked fleet + the reference's
    self-audit counters ('y out of x schemas processed',
    ``data_consistency_checks.py:146-147``) made structured."""

    report: DataFrame | None
    attempted: int
    succeeded: int
    skipped: list[tuple[str, str]] = field(default_factory=list)  # (source, missing table)


def run_fanout(
    catalog: FleetCatalog,
    check: Callable[[dict[str, DataFrame]], DataFrame],
    required_tables: list[str],
    prefix: str = "",
) -> FanoutReport:
    """Run ``check(tables)`` once over every enumerated source's tables.

    Sources missing any required table are skipped and recorded
    (replaces error-1146 string sniffing with an explicit existence
    pre-check). Every surviving source's copy of a table is tagged with
    :data:`SOURCE_COL` and combined with
    ``unionByName(allowMissingColumns=True)`` — reproducing the pandas
    concat schema-widening the reference relies on
    (``pre_and_post_etl_checks.py:112-122``, SURVEY.md §1.3): a column
    one source lacks reads as NULL in that source's rows. ``check``
    receives ``{table: stacked frame}`` and should group by
    :data:`SOURCE_COL`. It is not called when no source survives.
    """
    sources = catalog.list_sources(prefix)
    live: list[str] = []
    skipped: list[tuple[str, str]] = []
    for src in sources:
        missing = [t for t in required_tables if not catalog.table_exists(src, t)]
        if missing:
            skipped.append((src, missing[0]))
        else:
            live.append(src)

    report = None
    if live:
        report = check({t: _stack(catalog, live, t) for t in required_tables})
    return FanoutReport(
        report=report,
        attempted=len(sources),
        succeeded=len(live),
        skipped=skipped,
    )


def _stack(catalog: FleetCatalog, sources: list[str], table: str) -> DataFrame:
    parts = []
    for src in sources:
        df = catalog.read(src, table)
        if SOURCE_COL in df.columns:
            raise ValueError(f"{src}.{table} already has the reserved column {SOURCE_COL!r}")
        parts.append(df.withColumn(SOURCE_COL, F.lit(src)))
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
