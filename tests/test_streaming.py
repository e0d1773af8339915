"""Structured Streaming tests: the windowed volume check must produce
identical results in streaming (availableNow microbatches) and batch
mode — one code path, two execution modes — and watermarking must drop
late rows beyond the threshold."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from data_quality_checks_in_relational_database_spark.session import load_tables
from data_quality_checks_in_relational_database_spark.streaming.freshness import (
    read_events_stream,
    windowed_volume,
)
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def events_dir(spark):
    """Stream-source directory: events re-written µs-precision (the
    file-stream source can't read the NANOS original), split into
    several files to get multiple microbatches."""
    d = tempfile.mkdtemp(prefix="events_stream_")
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    ev.repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_equals_batch(spark, events_dir):
    batch = windowed_volume(spark.read.parquet(events_dir), window="1 hour")
    expected = {tuple(r) for r in batch.collect()}

    stream = read_events_stream(spark, events_dir, max_files=1)
    out = windowed_volume(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM win_counts").collect()}
    assert got == expected


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Append-mode watermark semantics end-to-end: a row arriving after
    the watermark passed its window must NOT be counted."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf), str(src / name))

    # Watermark mechanics (pinned empirically): the watermark advances
    # at batch COMMIT, and state eviction happens then too — so a late
    # row is guaranteed dropped only when it arrives a full batch AFTER
    # the watermark passed its window. Sequence: f1 pushes the
    # watermark to 11:30; f2 is the batch whose commit evicts the
    # 10:00-11:00 window; f3's 10:15 row then finds no state and is
    # dropped (numRowsDroppedByWatermark=1).
    write_file(
        "f1.parquet",
        [
            (1, "2024-01-01 10:00:00", "click"),
            (2, "2024-01-01 10:20:00", "click"),
            (3, "2024-01-01 10:40:00", "click"),
            (4, "2024-01-01 12:30:00", "click"),
        ],
    )
    _time.sleep(1.1)  # file-source orders batches by modification time
    write_file("f2.parquet", [(7, "2024-01-01 12:40:00", "click")])
    _time.sleep(1.1)
    write_file(
        "f3.parquet",
        [(5, "2024-01-01 10:15:00", "click"), (6, "2024-01-01 13:00:00", "click")],
    )

    schema = "event_id long, ts timestamp, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    out = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .count()
        .select(F.col("w.start").alias("ws"), "count")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {str(r["ws"]): r["count"] for r in spark.sql("SELECT * FROM late_test").collect()}
    # after batch1 the watermark is 12:00-1h = 11:00, so the 10:15 row
    # in batch2 is late and dropped: the 10:00 window closes at 3, not 4
    assert got.get("2024-01-01 10:00:00") == 3, got


def test_streaming_rule_monitor(spark, events_dir, tmp_path):
    from data_quality_checks_in_relational_database_spark.operators import rules as R
    from data_quality_checks_in_relational_database_spark.streaming.quality import (
        streaming_rule_monitor,
    )

    stream = read_events_stream(spark, events_dir, max_files=2)
    q = streaming_rule_monitor(
        stream,
        "events",
        [
            R.not_null("events", "event_id"),
            R.accepted_values(
                "events", "event_type", ["click", "view", "purchase", "signup", "error"]
            ),
            R.expression("events", "value_positive", "value >= 0"),
        ],
        sink_path=str(tmp_path / "dqa"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    report = spark.read.parquet(str(tmp_path / "dqa"))
    rows = report.collect()
    assert len(rows) >= 3  # ≥1 batch × 3 rules
    assert {r["rule_name"] for r in rows} == {
        "events.event_id.not_null",
        "events.event_type.accepted_values",
        "events.value_positive",
    }
    total = sum(r["n_rows"] for r in rows if r["rule_name"] == "events.event_id.not_null")
    assert total == spark.read.parquet(events_dir).count()  # every row checked once
    assert all(r["passed"] for r in rows)


def test_watermark_bounds_state(spark, events_dir):
    """With update mode + watermark, windows older than the watermark
    stop receiving updates; this pins that the watermark clause is
    actually applied (plan contains EventTimeWatermark)."""
    stream = read_events_stream(spark, events_dir)
    out = windowed_volume(stream, window="1 hour", watermark="30 minutes")
    assert "eventTimeWatermark" in out._jdf.queryExecution().analyzed().toString() or (
        "EventTimeWatermark" in out._jdf.queryExecution().analyzed().toString()
    )

def test_dedup_ledger_totals_match_batch(spark, events_dir):
    """The stateful ledger's final per-key totals must equal a plain
    batch groupBy over the same finite input (cross-batch state adds
    up correctly across microbatches)."""
    from data_quality_checks_in_relational_database_spark.streaming.stateful import dedup_ledger

    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )
    expected = {
        r["user_id"]: (r["n"], r["first_ts"], r["last_ts"]) for r in batch.collect()
    }

    stream = read_events_stream(spark, events_dir, max_files=1)
    # the fixture's files are not time-ordered, so the watermark must
    # be wider than the whole time range (else cross-batch stragglers
    # are dropped as late); huge TTL so nothing expires and every
    # key's last emission is its running total
    out = dedup_ledger(
        stream, "user_id", "ts", watermark="8760 hours", state_ttl_ms=10**12
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ledger")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ledger WHERE NOT expired").collect()
    got = {}
    for r in rows:  # update mode emits per batch; keep the max-total row
        cur = got.get(r["user_id"])
        if cur is None or r["total_rows"] > cur[0]:
            got[r["user_id"]] = (r["total_rows"], r["first_seen"], r["last_seen"])
    assert got == expected
    dups = {r["user_id"]: r["dup_rows"] for r in rows}
    assert all(dups[k] == expected[k][0] - 1 for k in expected)


def test_dedup_ledger_ttl_expiry(spark, tmp_path):
    """Event-time TTL: once the watermark passes last_seen + ttl, the
    key emits one final expired=true row and its state is evicted."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_checks_in_relational_database_spark.streaming.stateful import dedup_ledger

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf), str(src / name))

    write_file("f1.parquet", [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:05:00")])
    _time.sleep(1.1)
    write_file("f2.parquet", [(2, "2024-01-01 10:00:00")])
    _time.sleep(1.1)
    write_file("f3.parquet", [(2, "2024-01-01 11:00:00")])

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    # ttl 1h, watermark 1h: after f2 commits, watermark = 09:00 >
    # 00:05 + 1h, so during f3's batch key 1 times out.
    out = dedup_ledger(stream, "user_id", "ts", watermark="1 hour", state_ttl_ms=3_600_000)
    q = (
        out.writeStream.format("memory")
        .queryName("ledger_ttl")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ledger_ttl").collect()
    expired = [r for r in rows if r["expired"]]
    assert len(expired) == 1 and expired[0]["user_id"] == 1
    assert expired[0]["total_rows"] == 2 and expired[0]["dup_rows"] == 1
    assert str(expired[0]["last_seen"]) == "2024-01-01 00:05:00"


def test_sliding_stream_equals_batch(spark, events_dir):
    """Sliding (1h every 30m) windows: streaming microbatch execution
    must equal the batch run of the same operator — each event in
    exactly 2 windows in both modes."""
    batch = windowed_volume(
        spark.read.parquet(events_dir), window="1 hour", slide="30 minutes"
    )
    expected = {tuple(r) for r in batch.collect()}
    n_events = spark.read.parquet(events_dir).count()
    assert sum(r[2] for r in expected) == 2 * n_events  # 2 windows/event

    stream = read_events_stream(spark, events_dir, max_files=1)
    out = windowed_volume(
        stream, window="1 hour", slide="30 minutes", watermark="2 hours"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("slide_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM slide_counts").collect()}
    assert got == expected


def test_stream_stream_join_equals_batch(spark, events_dir):
    """Watermarked stream-stream attribution join (append mode) must
    produce exactly the batch twin's pairs once all input is
    processed."""
    from data_quality_checks_in_relational_database_spark.streaming.joins import attribute_events

    ev = spark.read.parquet(events_dir)
    batch = attribute_events(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "user_id",
        "ts",
        "event_id",
        max_delay="30 minutes",
    )
    expected = {tuple(r) for r in batch.collect()}
    assert expected, "fixture must produce at least one attribution pair"

    stream = read_events_stream(spark, events_dir, max_files=1)
    out = attribute_events(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        "user_id",
        "ts",
        "event_id",
        max_delay="30 minutes",
        # the fixture replays a month of data in RANDOM file order, so
        # the watermark must span the whole disorder for stream ≡ batch
        # to hold exactly; a production 2h watermark on this replay
        # would (correctly) drop cross-batch late matches
        watermark="40 days",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attrib")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM attrib").collect()}
    assert got == expected


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: per-key dedup whose state is
    evicted by the watermark (the built-in sibling of the
    applyInPandasWithState ledger) — replay with duplicates must emit
    each event_id exactly once while all duplicates fall inside the
    watermark."""
    import pyspark.sql.functions as F2

    d = str(tmp_path / "dups")
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"].limit(200)
    dup = ev.unionByName(ev.limit(50))  # 50 planted duplicate ids
    dup.repartition(2).write.mode("overwrite").parquet(d)

    stream = read_events_stream(spark, d, max_files=1)
    out = (
        stream.withColumn("ts", F2.col("ts").cast("timestamp"))
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        out.writeStream.format("memory")
        .queryName("ddww")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT event_id FROM ddww").collect()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids)) == 200


def test_windowed_distinct_users_stream_equals_batch(spark, events_dir):
    """HLL sketch inserts are commutative, so the streaming windowed
    distinct-user count must EXACTLY equal the batch run of the same
    function — and stay within the sketch's tolerance of exact."""
    from data_quality_checks_in_relational_database_spark.streaming.freshness import (
        EVENTS_SCHEMA,
        read_events_stream,
        windowed_distinct_users,
    )

    stream = windowed_distinct_users(
        read_events_stream(spark, events_dir), watermark="2 hours"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wdu")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["event_type"]): r["approx_distinct_users"]
        for r in spark.table("wdu").collect()
    }
    batch_df = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    want = {
        (r["window_start"], r["event_type"]): r["approx_distinct_users"]
        for r in windowed_distinct_users(batch_df).collect()
    }
    assert got == want and len(got) > 0
    exact = {
        (r["ws"], r["event_type"]): r["n"]
        for r in batch_df.groupBy(
            F.window("ts", "1 hour")["start"].alias("ws"), "event_type"
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for key, approx in got.items():
        assert abs(approx - exact[key]) <= max(1, 0.05 * exact[key])


def test_session_windows_stream_equals_batch(spark, events_dir):
    """Stateful streaming sessionization must finalize the same
    sessions the batch operator computes (append mode: all sessions
    close once the availableNow stream exhausts and the watermark
    advances past the data)."""
    from data_quality_checks_in_relational_database_spark.streaming.freshness import (
        EVENTS_SCHEMA,
        read_events_stream,
        session_volume,
    )

    # Watermark wider than the data span: the event files are not
    # time-ordered, so a tight watermark would legitimately DROP
    # late-arriving days (that production trade-off is pinned by
    # test_late_data_dropped_by_watermark); here the subject is
    # sessionization semantics, so nothing may be late.
    stream = session_volume(
        read_events_stream(spark, events_dir), watermark="400 days"
    )
    # complete mode: every session (open + closed) is in the sink after
    # the last microbatch, so the result must EQUAL the batch run.
    # (Append mode would emit only watermark-finalized sessions — and
    # availableNow runs no extra batch after the final watermark
    # advance, so trailing sessions would stay unemitted by design.)
    q = (
        stream.writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.table("sess").collect()
    }
    batch_df = spark.read.schema(EVENTS_SCHEMA).parquet(events_dir)
    want = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in session_volume(batch_df).collect()
    }
    assert got == want and len(got) > 0


def test_heavy_hitters_bounds_hold_across_batches(spark, tmp_path):
    """Planted heavy users must survive multi-batch Misra-Gries merges
    with counts within the N/capacity under-estimation bound; state
    stays bounded at `capacity` counters regardless of value
    cardinality."""
    import pandas as _pd

    from data_quality_checks_in_relational_database_spark.streaming.stateful import heavy_hitters

    d = tmp_path / "hh"
    d.mkdir()
    # two files -> two microbatches (maxFilesPerTrigger=1). Heavy users
    # 1 and 2; 200 distinct light users to overflow capacity=8.
    rows0 = [("click", 1)] * 60 + [("click", 2)] * 40 + [("click", 100 + i) for i in range(100)]
    rows1 = [("click", 1)] * 40 + [("click", 2)] * 60 + [("click", 300 + i) for i in range(100)]
    for i, rows in enumerate((rows0, rows1)):
        _pd.DataFrame(rows, columns=["event_type", "user_id"]).to_parquet(
            d / f"part{i}.parquet"
        )
    schema = "event_type string, user_id long"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    out = heavy_hitters(stream, "event_type", "user_id", capacity=8, top_k=4)
    q = (
        out.writeStream.format("memory")
        .queryName("hh")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("hh").collect()
    # take the final emission: the one with the max total_rows
    n_total = max(r["total_rows"] for r in rows)
    assert n_total == len(rows0) + len(rows1)
    final = {r["value"]: r for r in rows if r["total_rows"] == n_total}
    bound = n_total / 8
    for user, true_count in ((1, 100), (2, 100)):
        assert user in final, f"heavy user {user} evicted"
        est = final[user]["est_count"]
        assert true_count - bound <= est <= true_count
        assert final[user]["err_bound"] <= bound


def test_stream_static_enrichment_equals_batch(spark, events_dir):
    """Stream-static broadcast join: enrich each event with a static
    dimension and aggregate per dim attribute; streaming availableNow
    result must equal the batch twin, including NULL-category rows for
    dim misses (left join emits immediately — no join state)."""
    from data_quality_checks_in_relational_database_spark.streaming.joins import enrich_with_dim

    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"), ("purchase", "revenue")],
        "event_type string, category string",
    )

    def agg(df):
        return enrich_with_dim(df, dim, "event_type").groupBy("category").count()

    batch = {tuple(r) for r in agg(spark.read.parquet(events_dir)).collect()}
    assert any(r[0] is None for r in batch), "dim misses must survive as NULL"

    stream = read_events_stream(spark, events_dir, max_files=1)
    q = (
        agg(stream)
        .writeStream.format("memory")
        .queryName("enriched_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM enriched_counts").collect()}
    assert got == batch


def test_streaming_cdc_apply_matches_batch_compaction(spark, tmp_path):
    """Streaming CDC state maintenance: multi-batch replay with
    out-of-order cross-batch ops must converge to the batch
    cdc_compact of the full log; tombstones stop stale resurrection."""
    import pandas as _pd

    from data_quality_checks_in_relational_database_spark.operators.diff import cdc_compact
    from data_quality_checks_in_relational_database_spark.streaming.cdc import (
        read_state,
        streaming_cdc_apply,
    )

    d = tmp_path / "cdc_in"
    d.mkdir()
    # batch 0: upserts for keys 1-3, delete for key 4 (no prior row)
    rows0 = [
        (1, 100, 1, "upsert", 10.0),
        (2, 100, 2, "upsert", 20.0),
        (3, 100, 3, "upsert", 30.0),
        (4, 100, 4, "delete", 0.0),
    ]
    # batch 1: key 1 deleted AT A LATER ts; key 2 gets a LATE (older)
    # upsert that must NOT win; key 3 updated; key 4 late old upsert
    # must stay tombstoned
    rows1 = [
        (1, 200, 5, "delete", 0.0),
        (2, 50, 6, "upsert", 99.0),
        (3, 300, 7, "upsert", 33.0),
        (4, 60, 8, "upsert", 44.0),
    ]
    cols = ["k", "ts", "seq", "op", "v"]
    for i, rows in enumerate((rows0, rows1)):
        _pd.DataFrame(rows, columns=cols).to_parquet(d / f"part{i}.parquet")
    schema = "k long, ts long, seq long, op string, v double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    state_path = str(tmp_path / "cdc_state")
    q = streaming_cdc_apply(
        stream,
        state_path,
        str(tmp_path / "cdc_ckpt"),
        key_col="k",
        ts_col="ts",
        seq_col="seq",
        op_col="op",
    )
    q.awaitTermination(120)
    live = {r.k: (r.ts, r.seq, r.v) for r in read_state(spark, state_path, "op").collect()}
    batch_all = spark.createDataFrame(rows0 + rows1, schema)
    expect = {
        r.k: (r.ts, r.seq, r.v)
        for r in cdc_compact(batch_all, "k", "ts", "seq", "op").collect()
    }
    assert live == expect
    # key 1 deleted, key 2 kept ORIGINAL (late older upsert lost),
    # key 4 stays tombstoned despite the late old upsert
    assert 1 not in live and 4 not in live
    assert live[2] == (100, 2, 20.0)
    assert live[3] == (300, 7, 33.0)


def test_streaming_cdc_retry_idempotent(spark, tmp_path):
    """foreachBatch retry contract: re-applying the SAME epoch (crash
    after v<epoch>/_SUCCESS landed but before the checkpoint commit)
    must deterministically rebuild v<epoch> from v<epoch-1> + the batch
    — the retried write must not read its own half-committed output,
    and recovered state must be byte-identical to the pre-crash state."""
    from data_quality_checks_in_relational_database_spark.streaming.cdc import (
        apply_cdc_batch,
        read_state,
        streaming_cdc_apply,
    )
    from data_quality_checks_in_relational_database_spark.streaming.epoch_state import (
        latest_state,
    )

    d = tmp_path / "cdc_in"
    d.mkdir()
    import pandas as _pd

    cols = ["k", "ts", "seq", "op", "v"]
    rows0 = [(1, 100, 1, "upsert", 10.0), (2, 100, 2, "upsert", 20.0)]
    rows1 = [(1, 200, 3, "delete", 0.0), (3, 150, 4, "upsert", 30.0)]
    for i, rows in enumerate((rows0, rows1)):
        _pd.DataFrame(rows, columns=cols).to_parquet(d / f"part{i}.parquet")
    schema = "k long, ts long, seq long, op string, v double"
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    state_path = str(tmp_path / "cdc_state")
    ckpt = str(tmp_path / "cdc_ckpt")
    q = streaming_cdc_apply(
        stream, state_path, ckpt, key_col="k", ts_col="ts", seq_col="seq", op_col="op"
    )
    q.awaitTermination(120)
    before = {
        tuple(r) for r in latest_state(spark, state_path).orderBy("k").collect()
    }
    live_before = {r.k: r.v for r in read_state(spark, state_path, "op").collect()}

    # simulate the crash-after-_SUCCESS retry: epoch 1's v1 dir already
    # exists (committed) but the checkpoint never recorded the commit,
    # so foreachBatch re-runs with the SAME epoch_id and batch — replay
    # the body directly (Spark 4 forbids a second query object on the
    # same checkpoint within one session)
    retry_batch = spark.createDataFrame(rows1, schema)
    apply_cdc_batch(retry_batch, 1, state_path, "k", "ts", "seq")
    after = {
        tuple(r) for r in latest_state(spark, state_path).orderBy("k").collect()
    }
    live_after = {r.k: r.v for r in read_state(spark, state_path, "op").collect()}
    assert after == before
    assert live_after == live_before == {2: 20.0, 3: 30.0}


def test_streaming_cms_equals_batch_sketch(spark, tmp_path):
    """Mergeable-sketch law on a real stream: the CMS maintained
    microbatch-by-microbatch must equal the one-shot batch sketch of
    the full input (counter addition is associative/commutative), and
    a retried epoch must leave the counters unchanged."""
    import pandas as _pd

    from data_quality_checks_in_relational_database_spark.operators.sketch import (
        cms_counters,
    )
    from data_quality_checks_in_relational_database_spark.streaming.sketch import (
        apply_cms_batch,
        read_cms,
        streaming_cms,
    )

    d = tmp_path / "cms_in"
    d.mkdir()
    rows0 = [(i % 7,) for i in range(200)]
    rows1 = [(i % 11,) for i in range(300)] + [(999,)] * 50
    for i, rows in enumerate((rows0, rows1)):
        _pd.DataFrame(rows, columns=["k"]).to_parquet(d / f"part{i}.parquet")
    stream = (
        spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(str(d))
    )
    state_path = str(tmp_path / "cms_state")
    q = streaming_cms(
        stream, state_path, str(tmp_path / "cms_ckpt"), key_col="k", depth=4, width=64
    )
    q.awaitTermination(120)
    got = {(r["row"], r["bucket"]): r["cnt"] for r in read_cms(spark, state_path).collect()}
    batch = spark.createDataFrame(rows0 + rows1, "k long")
    want = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_counters(batch, "k", depth=4, width=64).collect()
    }
    assert got == want
    # retried last epoch: rebuilt from v<epoch-1> + batch -> unchanged
    retry = spark.createDataFrame(rows1, "k long")
    apply_cms_batch(retry, 1, state_path, "k", depth=4, width=64)
    got2 = {(r["row"], r["bucket"]): r["cnt"] for r in read_cms(spark, state_path).collect()}
    assert got2 == want


def test_streaming_session_windows_equal_batch(spark, events_dir):
    """Stateful sessionization on a real stream: session_window with a
    watermark over availableNow microbatches must converge to the batch
    session_window of the same finite input (complete mode; watermark
    wider than the data's time range so no session is finalized early
    against out-of-order files)."""
    ev = spark.read.parquet(events_dir)
    batch = (
        ev.groupBy(F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
    )
    expected = {tuple(r) for r in batch.collect()}

    stream = read_events_stream(spark, events_dir, max_files=1)
    out = (
        stream.withWatermark("ts", "8760 hours")
        .groupBy(F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sess")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("SELECT * FROM sess").collect()}
    assert got == expected


def test_watermark_drop_accounting(spark, tmp_path):
    """Late-data ACCOUNTING: the lateness report must attribute exactly
    the row the watermark dropped (same scenario as
    test_late_data_dropped_by_watermark, now with the loss surfaced
    instead of silent)."""
    import time as _time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_quality_checks_in_relational_database_spark.streaming.lateness import (
        total_dropped_late,
        watermark_drop_stats,
    )

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows):
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "event_type"])
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pq.write_table(pa.Table.from_pandas(pdf), str(src / name))

    write_file(
        "f1.parquet",
        [
            (1, "2024-01-01 10:00:00", "click"),
            (2, "2024-01-01 10:20:00", "click"),
            (4, "2024-01-01 12:30:00", "click"),
        ],
    )
    _time.sleep(1.1)
    write_file("f2.parquet", [(7, "2024-01-01 12:40:00", "click")])
    _time.sleep(1.1)
    write_file(
        "f3.parquet",
        [(5, "2024-01-01 10:15:00", "click"), (6, "2024-01-01 13:00:00", "click")],
    )

    schema = "event_id long, ts timestamp, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    out = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .count()
    )
    q = (
        out.writeStream.format("memory")
        .queryName("late_acct")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert total_dropped_late(q) == 1  # the 10:15 straggler, counted
    report = watermark_drop_stats(q, spark)
    rows = report.collect()
    assert sum(r["n_dropped_late"] for r in rows) == 1
    assert all(r["batch_id"] >= 0 and r["operator"] for r in rows)


def test_streaming_funnel_equals_batch(spark, tmp_path):
    """The stateful streaming funnel's final per-user reached-step must
    reproduce the batch funnel on a time-ordered feed (the operator's
    documented ordering contract), including the equal-time tie rule."""
    from data_quality_checks_in_relational_database_spark.operators.funnel import (
        funnel_report,
    )
    from data_quality_checks_in_relational_database_spark.streaming.stateful import (
        funnel_progress,
    )

    ev = load_tables(spark, SF_SMOKE, ("events",))["events"].select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_type"
    )
    steps = ["view", "click", "purchase"]
    batch = {
        (r["step"], r["step_name"]): r["n_users"]
        for r in funnel_report(ev, "user_id", "ts", "event_type", steps).collect()
    }

    # time-split feed: three files covering disjoint, increasing time
    # ranges -> per-user cross-batch event-time order holds
    d = tmp_path / "ordered"
    d.mkdir()
    us = F.unix_micros(F.col("ts"))
    cuts = ev.select(
        F.percentile(us, F.array(F.lit(1 / 3), F.lit(2 / 3))).alias("c")
    ).collect()[0]["c"]
    import time as _time

    parts = [
        ev.filter(us <= cuts[0]),
        ev.filter((us > cuts[0]) & (us <= cuts[1])),
        ev.filter(us > cuts[1]),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
        _time.sleep(1.1)  # file source orders batches by mtime
    stream = (
        spark.readStream.schema("user_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d / "f*"))
    )
    out = funnel_progress(stream, "user_id", "ts", "event_type", steps)
    q = (
        out.writeStream.format("memory")
        .queryName("sfunnel")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # last emission per user is their final reached step
    import collections

    rows = spark.sql(
        "SELECT user_id, reached FROM ("
        " SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY reached DESC) rn"
        " FROM sfunnel) WHERE rn = 1"
    ).collect()
    got = collections.Counter()
    for r in rows:
        for step in range(1, int(r["reached"]) + 1):
            got[step] += 1
    want = {step: n for (step, _name), n in batch.items()}
    assert {k: v for k, v in got.items() if v} == {k: v for k, v in want.items() if v}


# --- streaming incremental near-dedup (ledger-backed foreachBatch) ---


def _dedup_batches(spark):
    from tests.conftest import SF_SMOKE

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    b0 = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    b1 = docs.filter(F.col("source").isin("src3", "src4", "src5"))
    b2 = docs.filter(F.col("source").isin("src6", "src7", "src8"))
    return docs.filter(
        F.col("source").isin(*[f"src{i}" for i in range(9)])
    ), [b0, b1, b2]


def _pair_set(rows, a, b):
    return {
        (min(r[a], r[b]), max(r[a], r[b]), round(r["jaccard"], 6)) for r in rows
    }


def test_streaming_ingest_dedup_matches_batch(spark, tmp_path):
    """Union of per-epoch pair outputs (within-batch + vs-ledger) must
    equal the one-shot batch MinHash pairs over the whole fed corpus —
    the stream ≡ batch contract for the dedup ledger."""
    from data_quality_checks_in_relational_database_spark.operators import dedup as dd
    from data_quality_checks_in_relational_database_spark.streaming.dedup import (
        apply_ingest_batch,
        read_pairs,
    )

    full, batches = _dedup_batches(spark)
    root = str(tmp_path / "ledger")
    for epoch, b in enumerate(batches):
        apply_ingest_batch(b, epoch, root)
    got = _pair_set(read_pairs(spark, root).collect(), "new_id", "corpus_id")
    want = _pair_set(
        dd.minhash_lsh_pairs(full, threshold=0.5).collect(), "doc_id_a", "doc_id_b"
    )
    assert got == want
    assert len(want) > 0  # the corpus must actually contain near-dups


def test_streaming_ingest_dedup_retry_idempotent(spark, tmp_path):
    """Re-applying the SAME epoch (foreachBatch at-least-once retry)
    must leave pairs and ledger state identical — the strictly-older
    version bound rebuilds v1 from v0, never from half-committed v1."""
    from data_quality_checks_in_relational_database_spark.operators import dedup as dd
    from data_quality_checks_in_relational_database_spark.streaming.dedup import (
        apply_ingest_batch,
        read_pairs,
    )

    _, batches = _dedup_batches(spark)
    root = str(tmp_path / "ledger")
    apply_ingest_batch(batches[0], 0, root)
    apply_ingest_batch(batches[1], 1, root)
    v1 = tmp_path / "ledger" / "v1"

    def ledger():
        bands = sorted(
            (r["doc_id"], r["band"], r["band_hash"])
            for r in spark.read.parquet(str(v1 / "bands")).collect()
        )
        shingles = sorted(
            (r["doc_id"], tuple(r["shingles"]))
            for r in spark.read.parquet(str(v1 / "shingles")).collect()
        )
        return bands, shingles

    before_pairs = _pair_set(read_pairs(spark, root).collect(), "new_id", "corpus_id")
    before_bands, before_shingles = ledger()
    apply_ingest_batch(batches[1], 1, root)  # retry
    after_pairs = _pair_set(read_pairs(spark, root).collect(), "new_id", "corpus_id")
    after_bands, after_shingles = ledger()
    assert after_pairs == before_pairs
    assert after_bands == before_bands
    assert after_shingles == before_shingles
    # v1 holds both batches exactly once: one row per band per sketched doc
    ids = [d for d, _ in after_shingles]
    fed = batches[0].unionByName(batches[1]).select("doc_id").collect()
    assert sorted(ids) == sorted(r["doc_id"] for r in fed)
    sketched = {d for d, _, _ in after_bands}
    assert len(set(after_bands)) == len(after_bands) == dd.BANDS * len(sketched)


def test_streaming_ingest_dedup_live_stream(spark, tmp_path):
    """End-to-end through a real file stream (availableNow): same
    pairs as the direct-apply path."""
    from data_quality_checks_in_relational_database_spark.streaming.dedup import (
        read_pairs,
        streaming_ingest_dedup,
    )

    _, batches = _dedup_batches(spark)
    feed = tmp_path / "feed"
    for i, b in enumerate(batches[:2]):
        b.coalesce(1).write.mode("append").parquet(str(feed))
    stream = (
        spark.readStream.schema(batches[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(feed))
    )
    root = str(tmp_path / "ledger")
    q = streaming_ingest_dedup(stream, root, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = read_pairs(spark, root)
    assert got.count() >= 0  # committed versions exist and are readable


def test_streaming_debounce_equals_batch(spark, tmp_path):
    """Streaming greedy debounce must reproduce the batch kept-chain on
    a time-ordered feed: per-event kept verdicts union'd across batches
    equal debounce_events on the closed input."""
    from data_quality_checks_in_relational_database_spark.operators.funnel import (
        debounce_events,
    )
    from data_quality_checks_in_relational_database_spark.streaming.stateful import (
        debounce_progress,
    )

    ev = load_tables(spark, SF_SMOKE, ("events",))["events"].select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id", "event_type"
    )
    gap = 1800
    batch = {
        (r["event_id"], r["kept"])
        for r in debounce_events(
            ev, "user_id", "ts", "event_type", "event_id", gap_seconds=gap
        ).collect()
    }

    d = tmp_path / "ordered_db"
    d.mkdir()
    us = F.unix_micros(F.col("ts"))
    cuts = ev.select(
        F.percentile(us, F.array(F.lit(1 / 3), F.lit(2 / 3))).alias("c")
    ).collect()[0]["c"]
    import time as _time

    parts = [
        ev.filter(us <= cuts[0]),
        ev.filter((us > cuts[0]) & (us <= cuts[1])),
        ev.filter(us > cuts[1]),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d / "f*"))
    )
    out = debounce_progress(
        stream, "user_id", "ts", "event_type", "event_id", gap_seconds=gap
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sdebounce")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["kept"])
        for r in spark.sql("SELECT event_id, kept FROM sdebounce").collect()
    }
    assert got == batch and len(got) > 0
    # real suppression happened somewhere (non-vacuous)
    assert any(not k for _, k in got) and any(k for _, k in got)


def test_streaming_ewma_chart_equals_batch(spark, tmp_path):
    """The online EWMA/EWMAD control chart must be bit-identical
    between the streaming operator (state carried across a time-split
    3-file feed) and the batch twin folding the closed input — both run
    the same sequential recurrence, so even the doubles match exactly."""
    from data_quality_checks_in_relational_database_spark.streaming.stateful import (
        ewma_chart_batch,
        ewma_progress,
    )

    ev = load_tables(spark, SF_SMOKE, ("events",))["events"].select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        F.col("value").cast("double").alias("value"),
    )
    batch = {
        (r["event_id"], r["ewma"], r["ewmad"], r["alarm"])
        for r in ewma_chart_batch(
            ev, "event_type", "ts", "event_id", "value", warmup=5
        ).collect()
    }

    d = tmp_path / "ordered_ewma"
    d.mkdir()
    us = F.unix_micros(F.col("ts"))
    cuts = ev.select(
        F.percentile(us, F.array(F.lit(1 / 3), F.lit(2 / 3))).alias("c")
    ).collect()[0]["c"]
    import time as _time

    parts = [
        ev.filter(us <= cuts[0]),
        ev.filter((us > cuts[0]) & (us <= cuts[1])),
        ev.filter(us > cuts[1]),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d / "f*"))
    )
    out = ewma_progress(stream, "event_type", "ts", "event_id", "value", warmup=5)
    q = (
        out.writeStream.format("memory")
        .queryName("sewma")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["event_id"], r["ewma"], r["ewmad"], r["alarm"])
        for r in spark.sql(
            "SELECT event_id, ewma, ewmad, alarm FROM sewma"
        ).collect()
    }
    assert got == batch and len(got) > 0
    # the chart actually fires somewhere AND is not always-on
    alarms = [a for _, _, _, a in got]
    assert any(alarms) and not all(alarms)


def test_streaming_retraction_view_equals_batch(spark, tmp_path):
    """The signed-aggregate view maintained across a 2-file CDC feed
    (base inserts, then deletes + re-priced inserts) must equal the
    batch Z-set merge — including the retraction GC: every drained
    (priority, linenumber=7) group must be ABSENT, not a zero row."""
    from data_quality_checks_in_relational_database_spark.streaming.retraction import (
        apply_retraction_batch,
        read_view,
        streaming_retraction_view,
    )

    li = load_tables(spark, SF_SMOKE, ("lineitem",))["lineitem"].select(
        F.col("l_orderkey").alias("lk"),
        F.col("l_linenumber").cast("long").alias("ln"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )
    od = load_tables(spark, SF_SMOKE, ("orders",))["orders"].select(
        F.col("o_orderkey").alias("ok"), F.col("o_orderpriority").alias("prio")
    )
    j = od.join(li, od["ok"] == li["lk"]).select("prio", "ln", "cents", "lk")
    base = j.select("prio", "ln", F.lit(1).alias("sign"), "cents")
    cdc2 = (
        j.where(F.col("ln") == 7)
        .select("prio", "ln", F.lit(-1).alias("sign"), "cents")
        .unionByName(
            j.where((F.col("ln") == 1) & (F.col("lk") % 13 == 0)).select(
                "prio", "ln", F.lit(1).alias("sign"),
                (F.col("cents") + 777).alias("cents"),
            )
        )
    )
    expected = {
        (r["prio"], r["ln"], r["n"], r["c"])
        for r in (
            base.unionByName(cdc2)
            .groupBy("prio", "ln")
            .agg(
                F.sum("sign").cast("long").alias("n"),
                F.sum(F.col("sign") * F.col("cents")).cast("long").alias("c"),
            )
            .where(F.col("n") > 0)
        ).collect()
    }

    d = tmp_path / "retraction_feed"
    d.mkdir()
    import time as _time

    for i, p in enumerate((base, cdc2)):
        p.coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema("prio string, ln long, sign int, cents long")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d / "f*"))
    )
    state = str(tmp_path / "retraction_state")
    q = streaming_retraction_view(
        stream, state, str(tmp_path / "ckpt"),
        key_cols=["prio", "ln"], sign_col="sign", measure_col="cents",
    )
    q.awaitTermination(120)
    got = {
        (r["prio"], r["ln"], r["n"], r["c"])
        for r in read_view(spark, state).collect()
    }
    assert got == expected and len(got) > 0
    assert not any(ln == 7 for _, ln, _, _ in got)  # retraction GC

    # retried epoch rebuilds deterministically from v<epoch-1> + batch
    apply_retraction_batch(
        cdc2.withColumn("sign", F.col("sign").cast("int")), 1, state,
        ["prio", "ln"], "sign", "cents",
    )
    again = {
        (r["prio"], r["ln"], r["n"], r["c"])
        for r in read_view(spark, state).collect()
    }
    assert again == expected


def test_streaming_retraction_out_of_order_cdc(spark, tmp_path):
    """Out-of-order CDC across microbatches: a DELETE for a key arrives
    in epoch 1 BEFORE its matching insert (epoch 2). The persisted state
    must retain the negative multiplicity between epochs (pending
    retraction) so the later insert nets to zero — the group must never
    appear in the served view. Pins the Z-set/DBSP contract the batch
    twin (one-shot WHERE n > 0 over the whole delta) cannot exercise."""
    from data_quality_checks_in_relational_database_spark.streaming.epoch_state import (
        latest_committed_version,
        version_dir,
    )
    from data_quality_checks_in_relational_database_spark.streaming.retraction import (
        read_view,
        streaming_retraction_view,
    )

    rows = lambda *rs: spark.createDataFrame(  # noqa: E731
        list(rs), "k string, sign int, cents long"
    )
    f0 = rows(("a", 1, 100), ("b", 1, 200))          # base inserts
    f1 = rows(("z", -1, 500), ("a", 1, 100))          # delete BEFORE insert for z
    f2 = rows(("z", 1, 500), ("b", -1, 200))          # late matching insert for z

    d = tmp_path / "ooo_feed"
    d.mkdir()
    import time as _time

    for i, p in enumerate((f0, f1, f2)):
        p.coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
        _time.sleep(1.1)
    stream = (
        spark.readStream.schema("k string, sign int, cents long")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d / "f*"))
    )
    state = str(tmp_path / "ooo_state")
    q = streaming_retraction_view(
        stream, state, str(tmp_path / "ooo_ckpt"),
        key_cols=["k"], sign_col="sign", measure_col="cents",
    )
    q.awaitTermination(120)

    # served view: z netted to exactly zero → absent; b drained → absent
    got = {(r["k"], r["n"], r["c"]) for r in read_view(spark, state).collect()}
    assert got == {("a", 2, 200)}

    # the PERSISTED state after the delete-first epoch (v1) must carry
    # z's negative multiplicity — dropping it is the resurrection bug
    v = latest_committed_version(state, before=2)
    assert v is not None
    mid = {
        (r["k"], r["n"], r["c"])
        for r in spark.read.parquet(version_dir(state, v)).collect()
    }
    assert ("z", -1, -500) in mid
    # ... and the view served at that epoch already hid it
    mid_view = {r["k"] for r in spark.read.parquet(version_dir(state, v)).where("n > 0").collect()}
    assert "z" not in mid_view

    # exact-zero groups are GC'd from the final persisted state, not
    # merely hidden: z and b are gone from the state file itself
    final = latest_committed_version(state)
    assert final is not None and final > v
    fin = {r["k"] for r in spark.read.parquet(version_dir(state, final)).collect()}
    assert fin == {"a"}


def test_streaming_drop_duplicates_within_watermark(spark, tmp_path):
    """Native exact-key streaming dedup (dropDuplicatesWithinWatermark):
    duplicates arriving in LATER microbatches but within the watermark
    delay of each other are dropped, so the appended output equals the
    batch dropDuplicates over the whole feed. The state story is the
    point at 100 TB: unlike plain dropDuplicates (state grows forever),
    the within-watermark form evicts per-key state once the watermark
    passes — bounded state for an unbounded stream. Complements the
    MinHash ledger (near-dup, custom state) with the built-in
    exact-key path."""
    import time as _time

    rows0 = [(1, "2024-01-01 10:00:00", "a"), (2, "2024-01-01 10:01:00", "b")]
    rows1 = [(1, "2024-01-01 10:02:00", "a-dup"), (3, "2024-01-01 10:03:00", "c")]
    rows2 = [(2, "2024-01-01 10:04:00", "b-dup"), (4, "2024-01-01 10:05:00", "d")]
    d = tmp_path / "ddw_feed"
    d.mkdir()
    for i, rows in enumerate((rows0, rows1, rows2)):
        spark.createDataFrame(rows, "k long, ts_s string, val string").select(
            "k", F.col("ts_s").cast("timestamp").alias("ts"), "val"
        ).coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
        _time.sleep(1.1)

    stream = (
        spark.readStream.schema("k long, ts timestamp, val string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(d / "f*"))
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("ddw_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ddw_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["k"], r["val"]) for r in spark.sql("SELECT k, val FROM ddw_out").collect()
    }
    # first arrival per key survives; the cross-microbatch duplicates
    # (k=1 in f1, k=2 in f2 — both within the 1 h delay) are dropped
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}


def test_streaming_left_outer_attribution(spark, tmp_path):
    """Watermarked LEFT-OUTER stream-stream join: matched pairs emit as
    they pair; an unmatched click emits with NULL second_id once the
    watermark proves its join window empty; a click whose window the
    watermark never crosses stays UNEMITTED at stream end (still
    'maybe matched') — the exact delta from the batch twin, pinned."""
    import time as _time

    from data_quality_checks_in_relational_database_spark.streaming.joins import (
        attribute_events_outer,
    )

    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, ts_s string, eid long"
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "eid")

    clicks0 = mk([(1, "2024-01-01 10:00:00", 101), (2, "2024-01-01 10:01:00", 102),
                  (3, "2024-01-01 10:02:00", 103)])
    clicks1 = mk([(99, "2024-01-01 14:00:00", 199)])  # watermark flush
    buys0 = mk([(1, "2024-01-01 10:20:00", 201), (3, "2024-01-01 10:30:00", 203)])
    buys1 = mk([(98, "2024-01-01 14:00:00", 298)])    # watermark flush

    dirs = {}
    for name, batches in (("clicks", (clicks0, clicks1)), ("buys", (buys0, buys1))):
        d = tmp_path / name
        d.mkdir()
        for i, b in enumerate(batches):
            b.coalesce(1).write.mode("overwrite").parquet(str(d / f"f{i}"))
            _time.sleep(1.1)
        dirs[name] = (
            spark.readStream.schema("k long, ts timestamp, eid long")
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(d / "f*"))
        )

    out = attribute_events_outer(
        dirs["clicks"], dirs["buys"], "k", "ts", "eid",
        max_delay="1 hour", watermark="10 minutes",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("loa_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "loa_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["k"], r["first_id"], r["second_id"])
        for r in spark.sql("SELECT k, first_id, second_id FROM loa_out").collect()
    }
    # matched pairs + the watermark-closed unmatched click (k=2);
    # k=99's window was never crossed by the watermark -> unemitted
    assert got == {(1, 101, 201), (3, 103, 203), (2, 102, None)}

    # batch twin on the SAME fed frames: k=99 (and the flush buy's
    # absence) emit immediately -- the stream==batch delta is exactly
    # the still-open windows
    batch = attribute_events_outer(
        clicks0.unionByName(clicks1), buys0.unionByName(buys1),
        "k", "ts", "eid", max_delay="1 hour",
    )
    bg = {(r["k"], r["first_id"], r["second_id"]) for r in batch.collect()}
    assert bg == got | {(99, 199, None)}
