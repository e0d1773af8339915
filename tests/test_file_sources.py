"""File-source tests: PERMISSIVE malformed-record accounting for
CSV/JSON feeds, quarantine split, and the explicit-schema refusal."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.sources.files import (
    malformed_scan_report,
    quarantine_split,
    read_files,
)


@pytest.fixture()
def json_feed(tmp_path):
    p = tmp_path / "feed.json"
    p.write_text(
        "\n".join(
            [
                '{"id": 1, "name": "ok"}',
                '{"id": 2, "name": "fine"}',
                '{"id": "not-a-number", "name": "bad-type"}',
                "{broken json",
                '{"id": 5, "name": "good"}',
            ]
        )
    )
    return str(p)


@pytest.fixture()
def csv_feed(tmp_path):
    p = tmp_path / "feed.csv"
    p.write_text("id,name\n1,ok\n2,fine\nnot-a-number,bad\n4,good\n")
    return str(p)


def test_json_malformed_report(spark, json_feed):
    row = malformed_scan_report(
        spark, json_feed, "json", "id long, name string", source_name="feed"
    ).collect()[0]
    assert (row["source"], row["n_rows"], row["n_malformed"]) == ("feed", 5, 2)
    assert row["malformed_frac"] == 0.4


def test_csv_malformed_report(spark, csv_feed):
    row = malformed_scan_report(spark, csv_feed, "csv", "id long, name string").collect()[0]
    assert (row["n_rows"], row["n_malformed"]) == (4, 1)


def test_quarantine_split_roundtrip(spark, json_feed):
    df = read_files(spark, json_feed, "json", "id long, name string")
    clean, quarantine = quarantine_split(df)
    assert sorted(r["id"] for r in clean.collect()) == [1, 2, 5]
    assert "_corrupt_record" not in clean.columns
    raws = [r["raw_record"] for r in quarantine.collect()]
    assert len(raws) == 2 and any("broken json" in r for r in raws)


def test_text_formats_require_schema(spark, json_feed):
    with pytest.raises(ValueError, match="explicit schema"):
        read_files(spark, json_feed, "json")


def test_unknown_format_rejected(spark, json_feed):
    with pytest.raises(ValueError, match="unsupported format"):
        read_files(spark, json_feed, "avro")


def test_write_partitioned_prunes_on_read(spark, tmp_path):
    """A filter on the partition column must prune directories at plan
    time (PartitionFilters in the scan), and dynamic overwrite must
    replace only the partitions present in the new frame."""
    from data_quality_checks_in_relational_database_spark.sources.sinks import write_partitioned

    path = str(tmp_path / "part")
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr", float(i)) for i in range(20)],
        ["id", "lang", "v"],
    )
    audit = write_partitioned(df, path, ["lang"], expected_count=20)
    assert audit.ok and audit.rows_written == 20

    scan = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = scan._sc._jvm.PythonSQLUtils.explainString(
        scan._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan and "isnotnull(lang" in plan
    assert scan.count() == 10

    # dynamic overwrite: rewriting only 'en' must leave 'fr' intact
    df_en = spark.createDataFrame([(100, "en", 1.0)], ["id", "lang", "v"])
    write_partitioned(df_en, path, ["lang"])
    back = spark.read.parquet(path)
    assert back.filter(F.col("lang") == "fr").count() == 10
    assert back.filter(F.col("lang") == "en").count() == 1


def test_write_partitioned_audits_underscore_partition_column(spark, tmp_path):
    """A partition directory named ``_lang=…`` holds data (Spark's listing
    rule keeps a ``_`` name that has ``=``): the audit counts its rows,
    before and after an append, and the untouched partition's rows after
    a dynamic overwrite."""
    from data_quality_checks_in_relational_database_spark.sources.sinks import write_partitioned

    path = str(tmp_path / "under")
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "fr") for i in range(20)], ["id", "_lang"]
    )
    audit = write_partitioned(df, path, ["_lang"], expected_count=20)
    assert audit.ok and audit.rows_written == 20
    appended = write_partitioned(df, path, ["_lang"], mode="append")
    assert appended.rows_written == 40 == spark.read.parquet(path).count()
    one_en = spark.createDataFrame([(100, "en")], ["id", "_lang"])
    assert write_partitioned(one_en, path, ["_lang"]).rows_written == 21


def test_merge_upsert(spark, tmp_path):
    from data_quality_checks_in_relational_database_spark.sources.sinks import merge_upsert

    target = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, name string, score double"
    )
    merge_upsert(spark, target, base, ["id"])

    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], "id long, name string, score double"
    )
    audit = merge_upsert(spark, target, updates, ["id"])
    assert audit.rows_written == 4

    got = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "a", 10.0), (2, "b2", 21.0), (3, "c", 30.0), (4, "d", 40.0)}

    # idempotent: re-applying the same batch changes nothing
    audit2 = merge_upsert(spark, target, updates, ["id"])
    assert audit2.rows_written == 4
    got2 = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert got2 == got


def test_merge_upsert_into_partitioned_target_keeps_carried_rows(spark, tmp_path):
    """A target written by ``write_partitioned`` holds its files under
    ``lang=…`` directories; the merge must see that data and carry the
    unmatched rows, not replace the table with the update batch."""
    from data_quality_checks_in_relational_database_spark.sources.sinks import (
        merge_upsert,
        write_partitioned,
    )

    target = str(tmp_path / "dim_by_lang")
    schema = "id long, lang string, score double"
    base = spark.createDataFrame([(1, "en", 10.0), (2, "fr", 20.0), (3, "en", 30.0)], schema)
    write_partitioned(base, target, ["lang"])
    update = spark.createDataFrame([(2, "fr", 21.0)], schema)
    audit = merge_upsert(spark, target, update, ["id"])
    assert audit.rows_written == 3
    got = {(r.id, r.lang, r.score) for r in spark.read.parquet(target).collect()}
    assert got == {(1, "en", 10.0), (2, "fr", 21.0), (3, "en", 30.0)}


def test_merge_upsert_crash_mid_swap_keeps_previous_table(spark, tmp_path, monkeypatch):
    """A crash after the old target is moved aside but before the
    staging directory moves in leaves the old rows in ``<target>__prev``;
    the next call restores them and ends where an uninterrupted run does."""
    import os

    from data_quality_checks_in_relational_database_spark.sources.sinks import merge_upsert

    schema = "id long, name string, score double"
    base = spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], schema)
    updates = spark.createDataFrame([(2, "b2", 21.0), (4, "d", 40.0)], schema)

    def rows(path):
        return {tuple(r) for r in spark.read.parquet(path).collect()}

    clean = str(tmp_path / "clean")
    merge_upsert(spark, clean, base, ["id"])
    merge_upsert(spark, clean, updates, ["id"])

    target = str(tmp_path / "dim")
    merge_upsert(spark, target, base, ["id"])
    real_replace = os.replace

    def crash_on_move_in(src, dst):
        if "__staging_" in str(src) and str(dst) == target:
            raise OSError("crash before the staging directory moved in")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_on_move_in)
    with pytest.raises(OSError, match="crash before"):
        merge_upsert(spark, target, updates, ["id"])
    monkeypatch.undo()

    assert not [p for p in os.listdir(tmp_path) if "__staging_" in p]
    assert not os.path.exists(target)
    assert rows(f"{target}__prev") == {tuple(r) for r in base.collect()}
    audit = merge_upsert(spark, target, updates, ["id"])
    assert audit.rows_written == 4
    assert rows(target) == rows(clean)
    assert not os.path.exists(f"{target}__prev")


def test_merge_upsert_failed_staging_write_leaves_no_staging_dir(spark, tmp_path, monkeypatch):
    """A staging write that raises after its files landed (here: the
    footer audit) makes the merge remove its staging directory and
    re-raise; the target keeps its rows."""
    import os

    import pyarrow.parquet as pq

    from data_quality_checks_in_relational_database_spark.sources.sinks import merge_upsert

    schema = "id long, name string"
    target = str(tmp_path / "dim")
    merge_upsert(spark, target, spark.createDataFrame([(1, "a")], schema), ["id"])

    def unreadable_footer(path):
        raise OSError(f"unreadable footer: {path}")

    monkeypatch.setattr(pq, "read_metadata", unreadable_footer)
    with pytest.raises(OSError, match="unreadable footer"):
        merge_upsert(spark, target, spark.createDataFrame([(2, "b")], schema), ["id"])
    monkeypatch.undo()
    assert sorted(os.listdir(tmp_path)) == ["dim"]
    assert [tuple(r) for r in spark.read.parquet(target).collect()] == [(1, "a")]


def test_merge_upsert_keeps_partitioned_target_partitioned(spark, tmp_path):
    """A target written with ``partition_by=["lang"]`` keeps its
    ``lang=…`` directories through a merge, each holding its own rows."""
    import os

    from data_quality_checks_in_relational_database_spark.sources.sinks import (
        merge_upsert,
        write_partitioned,
    )

    target = str(tmp_path / "dim_by_lang")
    schema = "id long, lang string, score double"
    base = spark.createDataFrame([(1, "en", 10.0), (2, "fr", 20.0), (3, "en", 30.0)], schema)
    write_partitioned(base, target, ["lang"])
    update = spark.createDataFrame([(2, "fr", 21.0), (4, "de", 40.0)], schema)
    assert merge_upsert(spark, target, update, ["id"]).rows_written == 4
    assert sorted(d for d in os.listdir(target) if "=" in d) == ["lang=de", "lang=en", "lang=fr"]

    def ids(lang):
        part = spark.read.parquet(os.path.join(target, f"lang={lang}"))
        assert part.columns == ["id", "score"]
        return sorted((r.id, r.score) for r in part.collect())

    assert ids("en") == [(1, 10.0), (3, 30.0)]
    assert ids("fr") == [(2, 21.0)]
    assert ids("de") == [(4, 40.0)]


def test_observed_write_metrics(spark, tmp_path):
    """observe() metrics collected during the write must equal a
    separate aggregation pass."""
    import pyspark.sql.functions as F
    from data_quality_checks_in_relational_database_spark.operators.observe import observed_write
    from data_quality_checks_in_relational_database_spark.session import load_tables
    from tests.conftest import SF_SMOKE

    orders = load_tables(spark, SF_SMOKE, ("orders",))["orders"]
    got = observed_write(
        orders,
        str(tmp_path / "obs"),
        {
            "n": F.count(F.lit(1)),
            "n_null_price": F.sum(F.col("o_totalprice").isNull().cast("long")),
            "max_date": F.max("o_orderdate"),
        },
    )
    assert got["n"] == orders.count()
    assert got["n_null_price"] == 0
    assert got["max_date"] == orders.agg(F.max("o_orderdate")).collect()[0][0]
    assert spark.read.parquet(str(tmp_path / "obs")).count() == got["n"]


def test_hll_merge_matches_direct(spark):
    """Merged per-group sketches must estimate the same corpus
    distinct as a direct global sketch (identical registers)."""
    import pyspark.sql.functions as F
    from data_quality_checks_in_relational_database_spark.operators.observe import (
        hll_distinct_by_group,
        hll_merge_groups,
    )
    from data_quality_checks_in_relational_database_spark.session import load_tables
    from tests.conftest import SF_SMOKE

    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    merged = hll_merge_groups(hll_distinct_by_group(ev, "user_id", "event_type")).collect()[0]
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("est")
    ).collect()[0]
    assert merged.distinct_est == direct.est


def test_file_balance_report(spark, tmp_path):
    from data_quality_checks_in_relational_database_spark.operators.observe import (
        file_balance_report,
    )
    from data_quality_checks_in_relational_database_spark.session import load_tables
    from tests.conftest import SF_SMOKE

    orders = load_tables(spark, SF_SMOKE, ("orders",))["orders"]
    p = str(tmp_path / "balanced")
    orders.repartition(4).write.parquet(p)
    rep = file_balance_report(spark, p).collect()[0]
    assert rep.n_files == 4
    assert rep.n_rows == orders.count()
    assert rep.min_rows > 0
    # repartition(4) round-robins -> near-even files
    assert rep.skew_ratio < 1.5
