"""Structured Streaming tests: windowed aggregation equivalence with the
batch plan, and the custom stateful sessionizer."""

from __future__ import annotations

import datetime
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from etl_batch_spark.catalog import load_table
from etl_batch_spark.streaming import (
    read_events_stream,
    run_stream_to_memory,
    sessionize_stateful,
    windowed_event_counts,
)


def _write_event_file(path, *, event_id, ts, user_id, event_type, value):
    """One-row events parquet file matching the fixture schema (micros ts),
    for simulating a new file arriving on the stream source."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "event_id": pa.array([event_id], pa.int64()),
            "ts": pa.array([ts], pa.timestamp("us")),
            "user_id": pa.array([user_id], pa.int64()),
            "event_type": pa.array([event_type], pa.string()),
            "value": pa.array([value], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    pq.write_table(table, path)


def _drop_last_commit(ckpt: str) -> None:
    """Simulate a torn crash: offsets written, epoch commit lost.  The
    local ChecksumFs shadows each commit file with a .N.crc — drop both,
    or Spark's re-write rename fails and reads as a concurrent query."""
    commits_dir = os.path.join(ckpt, "commits")
    last = max((f for f in os.listdir(commits_dir) if f.isdigit()), key=int)
    os.remove(os.path.join(commits_dir, last))
    crc = os.path.join(commits_dir, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_windowed_counts_match_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(
        windowed_event_counts(stream, window="1 hour", watermark="2 hours"),
        query_name="win_counts",
        output_mode="update",
    )
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("select * from win_counts").collect()
    }

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    assert streamed == expected


def test_stateful_sessionizer_counts_match_batch_sessionization(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(
        sessionize_stateful(stream, gap_minutes=30),
        query_name="sessions",
        output_mode="update",
    )
    streamed = {
        r["user_id"]: (r["session_count"], r["event_count"])
        for r in spark.sql("select * from sessions").collect()
    }

    # batch oracle: lag/gap sessionization (same rule as q27)
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0)
    batch = (
        e.withColumn("is_new", is_new)
        .groupBy("user_id")
        .agg(F.sum("is_new").alias("sessions"), F.count(F.lit(1)).alias("events"))
    )
    expected = {r["user_id"]: (r["sessions"], r["events"]) for r in batch.collect()}
    assert streamed == expected


def test_dedup_stream_drops_redeliveries(spark, sf_dir, tmp_path):
    # simulate at-least-once delivery: the same events land twice (two
    # files in the streamed dir)
    events = load_table(spark, sf_dir, "events").limit(200)
    events.write.mode("overwrite").parquet(str(tmp_path / "dup"))
    events.write.mode("append").parquet(str(tmp_path / "dup"))

    from etl_batch_spark.streaming import dedup_stream

    stream = spark.readStream.schema(events.schema).parquet(str(tmp_path / "dup"))
    run_stream_to_memory(
        dedup_stream(stream, watermark="2 hours"),
        query_name="deduped",
        output_mode="append",
    )
    got = spark.sql("select event_id from deduped").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)) == 200


def test_attribution_join_matches_batch(spark, sf_dir):
    from etl_batch_spark.streaming import purchase_attribution_join

    stream = read_events_stream(spark, sf_dir)
    joined = purchase_attribution_join(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        attribution_window="1 hour",
        watermark="2 hours",
    )
    run_stream_to_memory(joined, query_name="attrib", output_mode="append")
    streamed = {
        (r["purchase_id"], r["click_id"]) for r in spark.sql("select * from attrib").collect()
    }

    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("event_id").alias("click_id"), F.col("ts").alias("cts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    batch = c.join(
        p,
        (F.col("cu") == F.col("pu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour")),
    )
    expected = {(r["purchase_id"], r["click_id"]) for r in batch.collect()}
    assert streamed == expected
    assert len(expected) > 0


def test_streaming_funnel_matches_batch_ev01(spark, sf_dir):
    from etl_batch_spark.streaming import funnel_stateful
    from etl_batch_spark.queries.eventsq import ev01_funnel

    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(
        funnel_stateful(stream), query_name="funnel", output_mode="update"
    )
    # latest state per user (memory sink keeps every update emission)
    steps = {
        r["user_id"]: r["mx"]
        for r in spark.sql(
            "select user_id, max(step) as mx from funnel group by user_id"
        ).collect()
    }
    batch = ev01_funnel(spark, sf_dir).collect()[0]
    reached = [sum(1 for s in steps.values() if s >= k) for k in (1, 2, 3)]
    assert reached == [
        batch["step1_view"], batch["step2_click"], batch["step3_purchase"]
    ]


def test_sliding_counts_match_batch(spark, sf_dir):
    from etl_batch_spark.streaming import sliding_event_counts

    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(
        sliding_event_counts(stream, window="2 hours", slide="1 hour"),
        query_name="slide_counts",
        output_mode="update",
    )
    streamed = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("select * from slide_counts").collect()
    }
    # batch oracle: each event belongs to the two hour-aligned 2h windows
    # ending at or after its hour
    e = load_table(spark, sf_dir, "events")
    batch = (
        e.select(
            F.explode(
                F.array(
                    F.date_trunc("hour", "ts"),
                    F.date_trunc("hour", "ts") - F.expr("INTERVAL 1 HOUR"),
                )
            ).alias("window_start"),
            "event_type",
        )
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    expected = {
        (r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()
    }
    assert streamed == expected


def test_idempotent_batch_sink_no_duplicates_on_replay(spark, sf_dir, tmp_path):
    from etl_batch_spark.streaming import write_idempotent_batches

    out = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    n_events = load_table(spark, sf_dir, "events").count()

    stream = read_events_stream(spark, sf_dir).select("event_id", "user_id")
    _, table = write_idempotent_batches(stream, path=out, checkpoint=ck)
    first = table.read()
    assert first.count() == n_events

    # restart with the same checkpoint: offsets already committed, so a
    # replay adds nothing to the table
    stream2 = read_events_stream(spark, sf_dir).select("event_id", "user_id")
    write_idempotent_batches(stream2, path=out, checkpoint=ck)
    again = table.read()
    assert again.count() == n_events
    assert again.select("event_id").distinct().count() == n_events

    # a stream of another shape refuses before it starts
    from etl_batch_spark.sources.txlog import SchemaEvolutionError

    head = table.latest_version()
    with pytest.raises(SchemaEvolutionError, match="merge_schema"):
        write_idempotent_batches(
            read_events_stream(spark, sf_dir).select("event_id"),
            path=out, checkpoint=ck,
        )
    assert table.latest_version() == head


def test_session_window_aggregate_complete_matches_batch(spark, sf_dir):
    """The built-in streaming session_window drained in COMPLETE mode
    equals the batch session_window aggregation exactly (single-batch
    source: the memory sink holds the full final state).  Pre-epoch and
    NULL ts are excluded on both sides — the watermark starts at 0, so
    a pre-epoch event is born late in the streaming plan only."""
    from etl_batch_spark.streaming import session_window_aggregate

    domain = F.col("ts").isNotNull() & (
        F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp")
    )
    stream = read_events_stream(spark, sf_dir).filter(domain)
    run_stream_to_memory(
        session_window_aggregate(stream, gap="30 minutes", watermark="2 hours"),
        query_name="sess_complete",
        output_mode="complete",
    )
    got = spark.table("sess_complete")
    want = (
        load_table(spark, sf_dir, "events")
        .filter(domain)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.unix_micros(F.max("ts")) / 1e6 - F.unix_micros(F.min("ts")) / 1e6, 2
            ).alias("duration_s"),
        )
        .select("user_id", "session_start", "n_events", "duration_s")
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.count() > 0


def test_session_window_append_withholds_watermark_tail(spark, sf_dir):
    """Why st04 drains in complete mode: append emits a session only
    once the watermark passes its end, so sessions ending within the
    delay of max(ts) are withheld at end-of-stream — append output is a
    strict subset of the batch result on this source."""
    from etl_batch_spark.streaming import session_window_aggregate

    stream = read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    run_stream_to_memory(
        session_window_aggregate(stream, gap="30 minutes", watermark="2 hours"),
        query_name="sess_append",
        output_mode="append",
    )
    got = spark.table("sess_append")
    full = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .count()
    )
    assert got.count() < full.count()  # the tail is withheld
    # and everything that WAS emitted is correct (subset of batch rows)
    want = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.unix_micros(F.max("ts")) / 1e6 - F.unix_micros(F.min("ts")) / 1e6, 2
            ).alias("duration_s"),
        )
        .select("user_id", "session_start", "n_events", "duration_s")
    )
    assert got.exceptAll(want).count() == 0


def test_stream_static_enrichment_matches_batch(spark, sf_dir):
    from etl_batch_spark.streaming import enrich_with_dimension

    # user -> cohort dimension derived deterministically from user_id
    dim = spark.range(0, 200).select(
        F.col("id").alias("user_id"),
        (F.col("id") % 5).cast("int").alias("cohort"),
    )
    stream = read_events_stream(spark, sf_dir)
    enriched = enrich_with_dimension(stream, dim, on="user_id").groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    run_stream_to_memory(enriched, query_name="enriched_counts", output_mode="complete")
    streamed = {
        (r["cohort"], r["n_events"])
        for r in spark.sql("select * from enriched_counts").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .join(dim, "user_id", "left")
        .groupBy("cohort")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    expected = {(r["cohort"], r["n_events"]) for r in batch.collect()}
    assert streamed == expected


class TestIncrementalIngest:
    def test_each_run_loads_only_new_files(self, spark, tmp_path):
        from etl_batch_spark.streaming.events import ingest_incrementally
        from pyspark.sql import types as T

        src, dst, cp = str(tmp_path / "src"), str(tmp_path / "dst"), str(tmp_path / "cp")
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
        )
        spark.createDataFrame([(1, 1.0), (2, 2.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

        n1, table = ingest_incrementally(spark, src, dst, cp, schema=schema)
        assert n1 >= 1
        assert table.read().count() == 2

        # second run with no new files: nothing re-processed
        ingest_incrementally(spark, src, dst, cp, schema=schema)
        assert table.read().count() == 2

        # new arrivals: only the delta lands, history not re-loaded
        spark.createDataFrame([(3, 3.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        ingest_incrementally(spark, src, dst, cp, schema=schema)
        got = sorted(r["id"] for r in table.read().collect())
        assert got == [1, 2, 3]

    def test_torn_crash_replay_does_not_double_load(self, spark, tmp_path):
        """foreachBatch is at-least-once per batch: a crash AFTER the
        sink wrote but BEFORE the checkpoint commit re-runs the same
        batch_id on restart.  Simulated by deleting the batch's commit
        marker; the table's commit metadata must mark the replay as
        already landed instead of appending the batch twice."""
        import os

        from etl_batch_spark.streaming.events import ingest_incrementally
        from pyspark.sql import types as T

        src, dst, cp = (str(tmp_path / n) for n in ("s3", "d3", "c3"))
        schema = T.StructType([T.StructField("id", T.LongType())])
        spark.createDataFrame([(1,), (2,)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        ingest_incrementally(spark, src, dst, cp, schema=schema)
        spark.createDataFrame([(3,), (4,)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _, table = ingest_incrementally(spark, src, dst, cp, schema=schema)
        assert sorted(r["id"] for r in table.read().collect()) == [
            1, 2, 3, 4,
        ]
        # torn crash: offsets/1 exists, sink ran, commits/1 lost (the
        # Hadoop-side .crc twin must go too or the checksum FS balks)
        last = max(
            n for n in os.listdir(os.path.join(cp, "commits"))
            if not n.startswith(".")
        )
        os.remove(os.path.join(cp, "commits", last))
        crc = os.path.join(cp, "commits", f".{last}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        n3, _ = ingest_incrementally(spark, src, dst, cp, schema=schema)
        assert n3 == 1  # the batch re-runs...
        got = sorted(r["id"] for r in table.read().collect())
        assert got == [1, 2, 3, 4]  # ...but the sink held exactly-once

    def test_transform_applies_per_batch(self, spark, tmp_path):
        from etl_batch_spark.streaming.events import ingest_incrementally
        from pyspark.sql import types as T

        src, dst, cp = str(tmp_path / "s2"), str(tmp_path / "d2"), str(tmp_path / "c2")
        schema = T.StructType([T.StructField("id", T.LongType())])
        spark.createDataFrame([(1,), (2,)], schema).coalesce(1).write.parquet(src)
        _, table = ingest_incrementally(
            spark, src, dst, cp, schema=schema,
            transform=lambda df: df.withColumn("doubled", F.col("id") * 2),
        )
        rows = {(r["id"], r["doubled"]) for r in table.read().collect()}
        assert rows == {(1, 2), (2, 4)}


def _ingest_ids(spark, src, dst, cp):
    from etl_batch_spark.streaming.events import ingest_incrementally
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("id", T.LongType())])
    return ingest_incrementally(spark, src, dst, cp, schema=schema)


def _write_ids(spark, src, dst, cp):
    from etl_batch_spark.streaming import write_idempotent_batches

    stream = spark.readStream.schema("id long").parquet(src)
    return write_idempotent_batches(stream, path=dst, checkpoint=cp)


@pytest.mark.parametrize(
    "drain", [_ingest_ids, _write_ids], ids=["ingest", "write_idempotent"]
)
def test_lost_checkpoint_lands_rows_once(spark, tmp_path, drain):
    """A lost checkpoint restarts batch ids at 0 over a full re-read of
    the source.  The table must then hold each source row once: the
    re-read rebuilds it under the new checkpoint's incarnation instead
    of landing on top of the rows the old checkpoint committed."""
    import shutil

    src, dst, cp = (str(tmp_path / n) for n in ("src", "dst", "cp"))
    for ids in ([1, 2], [3, 4]):
        spark.createDataFrame([(i,) for i in ids], "id long").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _, table = drain(spark, src, dst, cp)
    assert sorted(r["id"] for r in table.read().collect()) == [1, 2, 3, 4]

    shutil.rmtree(cp)
    n, table = drain(spark, src, dst, cp)
    assert n >= 1  # the re-read is delivered again...
    assert sorted(r["id"] for r in table.read().collect()) == [1, 2, 3, 4]


def test_nanos_events_read_without_session_conf(spark, tmp_path):
    """``events.ts`` stored as parquet TIMESTAMP(NANOS) reads as micros
    truncated from the raw int64, NULL kept, in batch and stream alike,
    and neither read leaves a conf on the caller's session."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = [1_700_000_000_123_456_789, None, -1_000_000_000]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ns, pa.timestamp("ns")),
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["view", "click", "view"], pa.string()),
            "value": pa.array([1.0, 2.0, 3.0], pa.float64()),
            "props": pa.array(["{}"] * 3, pa.string()),
        }),
        str(tmp_path / "events.parquet"),
    )
    sf = str(tmp_path)
    want = {
        1: 1_700_000_000_123_456,
        2: None,
        3: -1_000_000,
    }

    batch = load_table(spark, sf, "events").select("event_id", F.unix_micros("ts"))
    assert {r[0]: r[1] for r in batch.collect()} == want

    run_stream_to_memory(
        read_events_stream(spark, sf).select(
            "event_id", F.unix_micros("ts").alias("us")
        ),
        query_name="nanos_stream",
        output_mode="append",
    )
    streamed = spark.sql("SELECT event_id, us FROM nanos_stream").collect()
    assert {r[0]: r[1] for r in streamed} == want
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None


def test_transform_with_state_running_agg_matches_batch(spark, sf_dir):
    """transformWithStateInPandas lifetime aggregate == batch groupBy.

    Skips where the TWS python driver worker can't start (its runner
    imports google.protobuf, broken in this container)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        import pytest
        pytest.skip("transformWithState needs google.protobuf")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    from etl_batch_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        running_user_aggregate,
    )

    stream = read_events_stream(spark, sf_dir)
    run_stream_to_memory(
        running_user_aggregate(stream), query_name="tws_agg", output_mode="update"
    )
    # update mode may emit a row per micro-batch per user: keep the last
    got = {
        r["user_id"]: (r["n_events"], round(r["sum_value"], 2))
        for r in spark.sql("select * from tws_agg").collect()
    }
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    want = {r["user_id"]: (r["n"], r["s"]) for r in batch.collect()}
    assert got == want


def test_incremental_rollup_matches_batch_and_skips_replay(spark, sf_dir, tmp_path):
    """Continuous aggregate: streamed partials == batch rollup; a second
    drain with nothing new merges nothing new."""
    from etl_batch_spark.operators.rollup import read_level, rollup_cascade
    from etl_batch_spark.streaming.events import maintain_rollup_incrementally

    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    n1, table = maintain_rollup_incrementally(spark, sf_dir, rollup_dir, ckpt)
    assert n1 >= 1

    streamed = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in read_level(table.read()).collect()
    }
    batch = read_level(
        rollup_cascade(load_table(spark, sf_dir, "events"), levels=("day",))["day"]
    )
    want = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in batch.collect()
    }
    assert streamed == want

    # re-drain: checkpoint knows every file was consumed -> no new batch
    n2, table = maintain_rollup_incrementally(spark, sf_dir, rollup_dir, ckpt)
    assert n2 == 0
    again = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in read_level(table.read()).collect()
    }
    assert again == want


def test_incremental_rollup_replay_after_torn_crash_is_idempotent(
    spark, sf_dir, tmp_path
):
    """Crash between the table commit and the checkpoint commit re-delivers
    the same batch_id on restart UNDER THE SAME CHECKPOINT; the commit's
    metadata (batch id + the checkpoint's incarnation token, written
    atomically with the data) makes the sink skip it instead of merging
    the same partials twice."""
    from etl_batch_spark.operators.rollup import read_level
    from etl_batch_spark.streaming.events import maintain_rollup_incrementally

    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    n, table = maintain_rollup_incrementally(spark, sf_dir, rollup_dir, ckpt)
    want = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in read_level(table.read()).collect()
    }
    assert table.latest_meta()["batch_id"] == n - 1

    # simulate the torn crash: offsets written, epoch COMMIT lost — the
    # restart re-delivers the last batch id under the same incarnation
    _drop_last_commit(ckpt)
    n, table = maintain_rollup_incrementally(spark, sf_dir, rollup_dir, ckpt)
    assert n >= 1  # the torn batch was re-delivered...
    got = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in read_level(table.read()).collect()
    }
    assert got == want  # ...but not re-merged


def test_incremental_rollup_rebuilds_after_lost_checkpoint(spark, sf_dir, tmp_path):
    """A LOST checkpoint is not a replay: the fresh run renumbers batches
    from 0 over a full source re-read, so old batch ids must not gate it.
    The incarnation token routes the sink to rebuild — new files that
    arrived after the loss land in the rollup instead of being silently
    dropped, and nothing is double-counted."""
    import shutil

    from etl_batch_spark.operators.rollup import read_level
    from etl_batch_spark.streaming.events import maintain_rollup_incrementally

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    maintain_rollup_incrementally(spark, src, rollup_dir, ckpt)

    # checkpoint lost; a NEW event file arrives before the re-run
    shutil.rmtree(ckpt)
    _write_event_file(
        os.path.join(src, "events_0001.parquet"),
        event_id=99_000_001,
        ts=datetime.datetime(2030, 6, 1, 12, 0, 0),
        user_id=1,
        event_type="click",
        value=10.0,
    )
    n, table = maintain_rollup_incrementally(spark, src, rollup_dir, ckpt)
    assert n >= 1
    got = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in read_level(table.read()).collect()
    }
    # fresh ground truth over BOTH files, built independently
    fresh_dir = str(tmp_path / "rollup_fresh")
    _, fresh = maintain_rollup_incrementally(
        spark, src, fresh_dir, str(tmp_path / "ckpt_fresh")
    )
    want = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in read_level(fresh.read()).collect()
    }
    assert got == want
    # the new event's bucket really is present (not dropped)
    assert (datetime.datetime(2030, 6, 1), "click") in got


def _drain_rollup(spark, src, table_path, ckpt):
    from etl_batch_spark.operators.rollup import read_level
    from etl_batch_spark.streaming.events import maintain_rollup_incrementally

    _, table = maintain_rollup_incrementally(spark, src, table_path, ckpt)
    return Counter(tuple(r) for r in read_level(table.read()).collect())


def _drain_upsert(spark, src, table_path, ckpt):
    from etl_batch_spark.streaming.events import upsert_latest_versioned

    _, table, _ = upsert_latest_versioned(spark, src, table_path, ckpt)
    return Counter(tuple(r) for r in table.read().collect())


@pytest.mark.parametrize(
    "drain,k",
    [(_drain_rollup, 1), (_drain_rollup, 2), (_drain_upsert, 1)],
    ids=["rollup-k1", "rollup-k2", "upsert-k1"],
)
def test_crashed_drain_converges_on_rerun(spark, sf_dir, tmp_path, monkeypatch, drain, k):
    """A drain that dies at its k-th os.rename/os.replace/os.link call —
    wherever that falls in the sink's write — must leave a store the
    re-run completes: the state then equals a fresh store and checkpoint
    drained over the same files, never a store rebuilt from the
    re-delivered batch alone."""
    import shutil

    from pyspark.errors import StreamingQueryException

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))
    table_path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    drain(spark, src, table_path, ckpt)
    _write_event_file(
        os.path.join(src, "events_0001.parquet"),
        event_id=99_000_003,
        ts=datetime.datetime(2030, 6, 1, 12, 0, 0),
        user_id=1,
        event_type="click",
        value=10.0,
    )

    calls = 0

    def failing(real):
        def op(*args, **kwargs):
            nonlocal calls
            calls += 1
            if calls == k:
                raise OSError(f"injected fault at filesystem call {k}")
            return real(*args, **kwargs)

        return op

    with monkeypatch.context() as m:
        for name in ("rename", "replace", "link"):
            m.setattr(os, name, failing(getattr(os, name)))
        try:
            drain(spark, src, table_path, ckpt)
        except StreamingQueryException:
            assert calls >= k  # only the injected fault may fail the drain

    got = drain(spark, src, table_path, ckpt)
    want = drain(spark, src, str(tmp_path / "fresh"), str(tmp_path / "ckpt_fresh"))
    assert got == want


def test_incremental_hll_registers_match_batch(spark, sf_dir, tmp_path):
    """The generic partials maintainer keeps portable-HLL registers live
    under streaming ingestion; max-merge associativity means the streamed
    store equals the batch-built registers exactly — and the estimates,
    being pure functions of the registers, follow."""
    from pyspark.sql import functions as F

    from etl_batch_spark.catalog import load_table
    from etl_batch_spark.operators.sketch import hll_estimate, hll_merge, hll_partials
    from etl_batch_spark.streaming.events import maintain_partials_versioned

    store = str(tmp_path / "hll")
    ckpt = str(tmp_path / "ckpt")
    n, table = maintain_partials_versioned(
        spark,
        sf_dir,
        store,
        ckpt,
        build=lambda b: hll_partials(
            b, key_col="user_id", bucket=F.date_trunc("DAY", F.col("ts"))
        ),
        merge=lambda both: hll_merge(both, F.col("bucket")),
    )
    assert n >= 1
    streamed = {
        (r["bucket"], r["idx"]): r["max_rho"]
        for r in table.read().collect()
    }
    batch = hll_partials(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        bucket=F.date_trunc("DAY", F.col("ts")),
    )
    want = {(r["bucket"], r["idx"]): r["max_rho"] for r in batch.collect()}
    assert streamed == want
    est = hll_estimate(table.read()).collect()
    assert all(r["est_distinct"] > 0 for r in est)


def test_incremental_cms_counters_match_batch(spark, sf_dir, tmp_path):
    """Count-min counters are the SUM-merge member of the partials
    family: streamed maintenance must equal the batch-built sketch
    exactly, and point estimates never under-count the true frequency."""
    from pyspark.sql import functions as F

    from etl_batch_spark.catalog import load_table
    from etl_batch_spark.operators.sketch import cms_estimate, cms_merge, cms_partials
    from etl_batch_spark.streaming.events import maintain_partials_versioned

    store = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt")
    n, table = maintain_partials_versioned(
        spark,
        sf_dir,
        store,
        ckpt,
        build=lambda b: cms_partials(
            b, key_col="user_id", bucket=F.date_trunc("MONTH", F.col("ts"))
        ),
        merge=lambda both: cms_merge(both, F.col("bucket")),
    )
    assert n >= 1
    streamed = {
        (r["bucket"], r["r"], r["c"]): r["cnt"]
        for r in table.read().collect()
    }
    events = load_table(spark, sf_dir, "events")
    batch = cms_partials(
        events, key_col="user_id", bucket=F.date_trunc("MONTH", F.col("ts"))
    )
    want = {(r["bucket"], r["r"], r["c"]): r["cnt"] for r in batch.collect()}
    assert streamed == want
    probes = spark.range(5).select(F.col("id").alias("user_id"))
    est = {
        (r["bucket"], r["user_id"]): r["est_count"]
        for r in cms_estimate(table.read(), probes, key_col="user_id").collect()
    }
    exact = {
        (r["bucket"], r["user_id"]): r["n"]
        for r in events.filter(F.col("user_id") < 5)
        .groupBy(F.date_trunc("MONTH", F.col("ts")).alias("bucket"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for k, n_true in exact.items():
        assert est[k] >= n_true


def test_versioned_partials_history_and_replay(spark, sf_dir, tmp_path):
    """TxTable-backed continuous aggregate: every micro-batch is a
    versioned commit carrying its batch id — replay after a lost
    checkpoint is a no-op, and the rollup's history stays queryable."""
    import shutil

    from etl_batch_spark.operators.rollup import (
        _merge_partials,
        _partials_from_raw,
        read_level,
    )
    from etl_batch_spark.streaming.events import maintain_partials_versioned

    def build(b):
        return _partials_from_raw(
            b, ts_col="ts", key_cols=("event_type",), value_col="value", level="day"
        )

    def merge(both):
        return _merge_partials(both, key_cols=("event_type",), level="day")

    store = str(tmp_path / "vtable")
    ckpt = str(tmp_path / "ckpt")
    n, table = maintain_partials_versioned(
        spark, sf_dir, store, ckpt, build=build, merge=merge
    )
    assert n >= 1
    want = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in read_level(table.read()).collect()
    }
    assert want  # aggregate materialized
    assert table.latest_meta()["batch_id"] == n - 1
    n_versions = len(table.versions())

    # torn crash: table commit survived, epoch commit lost -> the restart
    # re-delivers the same batch id under the SAME incarnation; commit
    # metadata makes it a no-op
    _drop_last_commit(ckpt)
    n2, table2 = maintain_partials_versioned(
        spark, sf_dir, store, ckpt, build=build, merge=merge
    )
    assert n2 >= 1
    got = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in read_level(table2.read()).collect()
    }
    assert got == want  # not double-counted
    assert len(table2.versions()) == n_versions  # replays committed nothing

    # full checkpoint LOSS: fresh incarnation re-reads the whole source
    # and REBUILDS (new commits), landing on the identical aggregate —
    # never double-merged, never silently skipped
    shutil.rmtree(ckpt)
    n3, table3 = maintain_partials_versioned(
        spark, sf_dir, store, ckpt, build=build, merge=merge
    )
    assert n3 >= 1 and len(table3.versions()) > n_versions
    got3 = {
        (r["bucket"], r["event_type"]): (r["n"], r["sum_value"])
        for r in read_level(table3.read()).collect()
    }
    assert got3 == want


def test_incremental_mg_heavy_hitters_guarantees(spark, sf_dir, tmp_path):
    """Misra–Gries partials are the prune-on-merge member of the
    partials family: streamed through the generic maintainer, the
    summary must (a) keep bounded state, (b) never over-count, (c)
    report a SUPERSET of the true heavy hitters with honest bounds."""
    import math

    from pyspark.sql import functions as F

    from etl_batch_spark.catalog import load_table
    from etl_batch_spark.operators.freq import mg_merge, mg_partials, mg_report
    from etl_batch_spark.streaming.events import maintain_partials_versioned

    support = 0.02
    cap = math.ceil(1 / support) + 1
    store = str(tmp_path / "mg")
    ckpt = str(tmp_path / "ckpt")
    n, table = maintain_partials_versioned(
        spark,
        sf_dir,
        store,
        ckpt,
        build=lambda b: mg_partials(b, "event_type"),
        merge=lambda both: mg_merge(both, cap),
    )
    assert n >= 1
    partials = table.read()
    assert partials.count() <= cap + 1  # bounded state incl. total row

    events = load_table(spark, sf_dir, "events")
    n_total = events.select(F.count("event_type")).first()[0]
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    thr = math.ceil(support * n_total)
    true_heavy = {k for k, v in exact.items() if v >= thr}

    report = mg_report(partials, support, cap).collect()
    got = {r["mg_key"]: r for r in report}
    assert report and {r["mg_key"] for r in report} >= true_heavy
    for r in report:
        assert r["n_total"] == n_total
        assert r["threshold"] == thr
        # one-sided bound: est ≤ freq ≤ max_count
        assert r["est_count"] <= exact[r["mg_key"]] <= r["max_count"]


def test_outer_attribution_join_emits_organic_purchases(spark, sf_dir, tmp_path):
    """Left-outer stream-stream join: attributed rows must equal the
    batch inner join; organic (null-click) rows must be genuinely
    click-free; and once the watermark provably passes a purchase (a
    far-future heartbeat file processed as its own micro-batch), that
    purchase MUST have emitted one way or the other."""
    import datetime

    from etl_batch_spark.streaming.events import (
        purchase_attribution_join_outer,
        run_stream_to_memory,
    )

    e = load_table(spark, sf_dir, "events")
    max_ts = e.agg(F.max("ts")).first()[0]
    src_dir = str(tmp_path / "events_src")
    e.coalesce(1).write.mode("overwrite").parquet(src_dir)
    # heartbeat file: one click + one purchase a day past the data, so
    # BOTH sides' watermarks (global wm = min) advance in batch 2
    hb_ts = max_ts + datetime.timedelta(days=1)
    spark.createDataFrame(
        [
            (10_000_001, hb_ts, -1, "click", 0.0, "{}"),
            (10_000_002, hb_ts, -1, "purchase", 0.0, "{}"),
        ],
        e.schema,
    ).coalesce(1).write.mode("append").parquet(src_dir)

    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    joined = purchase_attribution_join_outer(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        attribution_window="1 hour",
        watermark="2 hours",
    )
    run_stream_to_memory(joined, query_name="attrib_outer", output_mode="append")
    rows = [
        r
        for r in spark.sql("select * from attrib_outer").collect()
        if r["purchase_id"] < 10_000_000  # drop the heartbeat sentinel
    ]
    matched = {
        (r["purchase_id"], r["click_id"]) for r in rows if r["click_id"] is not None
    }
    organic = {r["purchase_id"] for r in rows if r["click_id"] is None}

    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    cond = (
        (F.col("cu") == F.col("pu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 hour"))
    )
    expected_matched = {
        (r["purchase_id"], r["click_id"]) for r in c.join(p, cond).collect()
    }
    assert matched == expected_matched and matched

    batch_organic = {
        r["purchase_id"] for r in p.join(c, cond, "left_anti").collect()
    }
    # every emitted organic purchase is truly click-free
    assert organic <= batch_organic and organic
    # deterministic completeness: after the heartbeat batch the global
    # watermark sits at max_ts - 2h, so every purchase older than that
    # must have emitted as matched-or-organic
    wm = max_ts - datetime.timedelta(hours=2)
    old_purchases = {
        r["purchase_id"] for r in p.filter(F.col("pts") < F.lit(wm)).collect()
    }
    emitted = {pid for pid, _ in matched} | organic
    assert old_purchases - emitted == set()


def test_streaming_upsert_latest_state_and_replay(spark, sf_dir, tmp_path):
    """Row-level streaming upsert into a TxTable: final state must equal
    the batch 'latest event per user, tombstones removed' computation,
    commits must carry batch ids, and a checkpoint loss must not change
    the state (replay detection via commit metadata)."""
    import shutil

    from etl_batch_spark.streaming.events import upsert_latest_versioned

    ckpt = str(tmp_path / "ckpt")
    tbl = str(tmp_path / "state")
    n, table, live = upsert_latest_versioned(spark, sf_dir, tbl, ckpt)
    assert n >= 1
    got = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in live().collect()
    }

    e = load_table(spark, sf_dir, "events")
    latest = (
        e.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("s"))
        .select("user_id", "s.event_id", "s.event_type")
    )
    want = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in latest.filter(F.col("event_type") != "error").collect()
    }
    assert got == want and got
    # tombstones actually removed some keys
    assert latest.filter(F.col("event_type") == "error").count() > 0
    meta = table.latest_meta()
    assert meta is not None and "batch_id" in meta

    # tombstones persist in STATE (latest-wins evidence against late
    # older events) even though they are absent from the live view
    stored = {r["user_id"] for r in table.read().collect()}
    tomb = {
        r["user_id"]
        for r in latest.filter(F.col("event_type") == "error").collect()
    }
    assert tomb <= stored and not (tomb & set(got))

    # torn crash: offsets written, epoch commit lost — the restart
    # re-delivers the same batch id under the SAME incarnation; the
    # commit metadata makes it skip (no new version)
    v_before = table.latest_version()
    _drop_last_commit(ckpt)
    n2, table2, live2 = upsert_latest_versioned(spark, sf_dir, tbl, ckpt)
    assert table2.latest_version() == v_before  # replay skipped
    got2 = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in live2().collect()
    }
    assert got2 == want

    # full checkpoint LOSS: the fresh run re-reads everything under a new
    # incarnation and REBUILDS — latest-wins over the full replay is
    # idempotent, so state is unchanged (and nothing is silently skipped)
    shutil.rmtree(ckpt)
    n3, table3, live3 = upsert_latest_versioned(spark, sf_dir, tbl, ckpt)
    assert n3 >= 1
    got3 = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in live3().collect()
    }
    assert got3 == want


def test_streaming_upsert_recovers_new_data_after_checkpoint_loss(
    spark, sf_dir, tmp_path
):
    """The failure the incarnation token exists to prevent: checkpoint
    lost, NEW events arrive, re-run.  The fresh run's batch ids restart
    at 0 — a bare batch-id guard would mistake every batch for a replay
    and drop the new events forever.  With the token the sink rebuilds
    over the full re-read, so the new event lands."""
    import shutil

    from etl_batch_spark.streaming.events import upsert_latest_versioned

    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(os.path.join(sf_dir, "events.parquet"), os.path.join(src, "events.parquet"))
    ckpt = str(tmp_path / "ckpt")
    tbl = str(tmp_path / "state")
    upsert_latest_versioned(spark, src, tbl, ckpt)

    shutil.rmtree(ckpt)
    new_ts = datetime.datetime(2030, 6, 1, 12, 0, 0)  # after every fixture event
    _write_event_file(
        os.path.join(src, "events_0001.parquet"),
        event_id=99_000_002,
        ts=new_ts,
        user_id=1,
        event_type="purchase",
        value=42.0,
    )
    n, table, live = upsert_latest_versioned(spark, src, tbl, ckpt)
    assert n >= 1
    got = {r["user_id"]: (r["event_id"], r["event_type"]) for r in live().collect()}
    assert got[1] == (99_000_002, "purchase")

    # and the whole state equals the batch latest-per-key over BOTH files
    e = spark.read.parquet(os.path.join(src, "events*.parquet"))
    latest = (
        e.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("s"))
        .select("user_id", "s.event_id", "s.event_type")
    )
    want = {
        r["user_id"]: (r["event_id"], r["event_type"])
        for r in latest.filter(F.col("event_type") != "error").collect()
    }
    assert got == want


def test_streaming_upsert_tombstone_beats_late_older_event(spark):
    """The reason tombstones persist in state: a later micro-batch
    carrying an OLDER event for a deleted key must NOT resurrect it —
    latest-wins needs the delete's (ts, event_id) to compare against."""
    import datetime

    from etl_batch_spark.streaming.events import _latest_per_key

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    schema = "user_id long, ts timestamp, event_id long, event_type string, value double"
    # state after batch 1: user 7 tombstoned at 12:00
    state = spark.createDataFrame([(7, t0, 100, "error", 0.0)], schema)
    # batch 2 delivers a LATE event for user 7 from 11:00
    late = spark.createDataFrame(
        [(7, t0 - datetime.timedelta(hours=1), 99, "click", 1.0)], schema
    )
    merged = _latest_per_key(state.unionByName(late), "user_id").collect()
    assert len(merged) == 1 and merged[0]["event_type"] == "error"
    # live view still hides the key
    assert [r for r in merged if r["event_type"] != "error"] == []


def test_streaming_upsert_null_event_type_stays_in_live_view(spark, tmp_path):
    """A stored row whose latest event_type is NULL is not a tombstone:
    the live view's filter must be null-safe, or `!= delete_type`
    evaluates NULL and silently drops the key."""
    from etl_batch_spark.streaming.events import upsert_latest_versioned

    src = str(tmp_path / "src")
    os.makedirs(src)
    _write_event_file(
        os.path.join(src, "events_0001.parquet"),
        event_id=1,
        ts=datetime.datetime(2024, 1, 1, 12, 0, 0),
        user_id=1,
        event_type=None,  # NULL, not a tombstone
        value=1.0,
    )
    _write_event_file(
        os.path.join(src, "events_0002.parquet"),
        event_id=2,
        ts=datetime.datetime(2024, 1, 1, 12, 0, 0),
        user_id=2,
        event_type="error",  # real tombstone
        value=2.0,
    )
    _, _, live = upsert_latest_versioned(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    got = {r["user_id"]: r["event_type"] for r in live().collect()}
    assert got == {1: None}  # NULL kept, tombstone hidden


def test_streaming_multimodal_decode_matches_batch(spark, tmp_path):
    """The decode stages are narrow Arrow maps, so they lift unchanged
    onto a file stream: decode_image + probe_media_df over a streaming
    source must emit exactly the rows their batch twins produce."""
    import numpy as np

    from etl_batch_spark.llmops.jpeg import encode_jpeg
    from etl_batch_spark.llmops.mediainfo import probe_media_df
    from etl_batch_spark.llmops.multimodal import decode_image
    from etl_batch_spark.llmops.png import encode_png

    rng = np.random.default_rng(33)
    rows = []
    for doc_id in range(6):
        w, h = 8 + doc_id, 6 + doc_id
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8).tobytes()
        data = (encode_png(w, h, 3, px) if doc_id % 2
                else encode_jpeg(w, h, 3, px, quality=95))
        rows.append((doc_id, bytearray(data)))
    batch = spark.createDataFrame(rows, "doc_id long, payload binary")
    # two micro-batch files so the stream takes more than one trigger
    batch.filter("doc_id < 3").write.parquet(str(tmp_path / "pay"))
    batch.filter("doc_id >= 3").write.mode("append").parquet(str(tmp_path / "pay"))

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "pay"))
    )
    run_stream_to_memory(
        decode_image(stream, fake=False), query_name="mm_decode",
        output_mode="append",
    )
    run_stream_to_memory(
        probe_media_df(stream), query_name="mm_probe", output_mode="append",
    )

    got = {r["doc_id"]: r for r in spark.sql("SELECT * FROM mm_decode").collect()}
    want = {r["doc_id"]: r for r in decode_image(batch, fake=False).collect()}
    assert set(got) == set(want) == set(range(6))
    for i in want:
        assert (got[i]["width"], got[i]["height"]) == (want[i]["width"], want[i]["height"])
        assert list(got[i]["feature"]) == list(want[i]["feature"])

    probes = {r["doc_id"]: r for r in spark.sql("SELECT * FROM mm_probe").collect()}
    assert {probes[i]["container"] for i in range(6)} == {"png", "jpeg"}
    assert all(probes[i]["width"] == want[i]["width"] for i in range(6))


class TestStreamingSchemaEvolution:
    """A column added mid-stream: the table's logged schema and the
    evolved state/landing schema must never silently disagree —
    drift REFUSES at the next run/batch boundary (checkpoint and
    stored state untouched), evolves only under merge_schema=True, and
    a type change refuses either way."""

    def test_ingest_drift_refuses_then_evolves(self, spark, tmp_path):
        import pytest as _pytest

        from etl_batch_spark.sources.txlog import SchemaEvolutionError
        from etl_batch_spark.streaming.events import ingest_incrementally
        from pyspark.sql import types as T

        src, dst, cp = (str(tmp_path / n) for n in ("s", "d", "c"))
        schema = T.StructType([T.StructField("id", T.LongType())])
        spark.createDataFrame([(1,), (2,)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _, table = ingest_incrementally(spark, src, dst, cp, schema=schema)

        spark.createDataFrame([(3,)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        widened = dict(
            schema=schema,
            transform=lambda df: df.withColumn("v2", F.col("id") * 2),
        )
        # drift refuses BEFORE the stream starts: checkpoint untouched
        with _pytest.raises(SchemaEvolutionError, match="merge_schema"):
            ingest_incrementally(spark, src, dst, cp, **widened)
        assert sorted(
            r["id"] for r in table.read().collect()
        ) == [1, 2]
        # evolve: the PENDING file (not yet ingested — the refusal did
        # not advance the checkpoint) lands with the new column
        n, _ = ingest_incrementally(spark, src, dst, cp, merge_schema=True,
                                    **widened)
        assert n == 1
        back = table.read()
        got = {(r["id"], r["v2"]) for r in back.select("id", "v2").collect()}
        assert got == {(1, None), (2, None), (3, 6)}
        # the logged schema follows the evolution: the widened shape now
        # resumes without the flag
        spark.createDataFrame([(4,)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        ingest_incrementally(spark, src, dst, cp, **widened)
        assert table.read().count() == 4

    def test_ingest_narrowing_and_type_change_refuse(self, spark, tmp_path):
        import pytest as _pytest

        from etl_batch_spark.sources.txlog import SchemaEvolutionError
        from etl_batch_spark.streaming.events import ingest_incrementally
        from pyspark.sql import types as T

        src, dst, cp = (str(tmp_path / n) for n in ("s", "d", "c"))
        schema = T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("v", T.DoubleType())]
        )
        spark.createDataFrame([(1, 1.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        ingest_incrementally(spark, src, dst, cp, schema=schema)
        # dropping a logged column refuses even with merge_schema=True
        with _pytest.raises(SchemaEvolutionError, match="drops column"):
            ingest_incrementally(
                spark, src, dst, cp, schema=schema, merge_schema=True,
                transform=lambda df: df.drop("v"),
            )
        # so does a type change on a shared column
        with _pytest.raises(SchemaEvolutionError, match="type change"):
            ingest_incrementally(
                spark, src, dst, cp, schema=schema, merge_schema=True,
                transform=lambda df: df.withColumn(
                    "v", F.col("v").cast("string")
                ),
            )

    def test_upsert_drift_refuses_at_batch_boundary_then_evolves(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        from etl_batch_spark.streaming.events import upsert_latest_versioned

        src = str(tmp_path / "src")
        os.makedirs(src)
        tbl, cp = str(tmp_path / "state"), str(tmp_path / "ckpt")
        t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
        _write_event_file(
            os.path.join(src, "events_0001.parquet"),
            event_id=1, ts=t0, user_id=1, event_type="click", value=5.0,
        )
        _, table, _ = upsert_latest_versioned(spark, src, tbl, cp)
        assert table.latest_version() == 0

        _write_event_file(
            os.path.join(src, "events_0002.parquet"),
            event_id=2, ts=t0, user_id=2, event_type="view", value=3.0,
        )
        widened = dict(
            transform=lambda df: df.withColumn(
                "v2", F.round(F.col("value") * 2, 2)
            ),
        )
        # refusal happens INSIDE the sink, before any commit: the
        # streaming query fails, the checkpoint does not advance, the
        # table head is untouched.  The raised type is the DOCUMENTED
        # SchemaEvolutionError (awaitTermination's wrapper unwrapped),
        # not a StreamingQueryException callers must string-match.
        from etl_batch_spark.sources.txlog import SchemaEvolutionError

        with _pytest.raises(SchemaEvolutionError, match="drifted"):
            upsert_latest_versioned(spark, src, tbl, cp, **widened)
        assert table.latest_version() == 0

        # the re-run with merge_schema=True re-delivers the SAME batch
        n, table, live = upsert_latest_versioned(
            spark, src, tbl, cp, merge_schema=True, **widened
        )
        assert n >= 1 and table.latest_version() == 1
        got = {r["user_id"]: r["v2"] for r in live().collect()}
        # pre-evolution state NULL-fills; the new batch carries values
        assert got == {1: None, 2: 6.0}
        # the commit log carries the union schema (et40 semantics)
        assert table.schema_at().fieldNames() == [
            "user_id", "ts", "event_id", "event_type", "value", "props",
            "v2",
        ]

    def test_upsert_type_change_refuses_even_with_merge(self, spark, tmp_path):
        import pytest as _pytest

        from etl_batch_spark.streaming.events import upsert_latest_versioned

        src = str(tmp_path / "src")
        os.makedirs(src)
        tbl, cp = str(tmp_path / "state"), str(tmp_path / "ckpt")
        t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
        _write_event_file(
            os.path.join(src, "events_0001.parquet"),
            event_id=1, ts=t0, user_id=1, event_type="click", value=5.0,
        )
        upsert_latest_versioned(spark, src, tbl, cp)
        _write_event_file(
            os.path.join(src, "events_0002.parquet"),
            event_id=2, ts=t0, user_id=2, event_type="view", value=3.0,
        )
        with _pytest.raises(Exception, match="type change"):
            upsert_latest_versioned(
                spark, src, tbl, cp, merge_schema=True,
                transform=lambda df: df.withColumn(
                    "value", F.col("value").cast("string")
                ),
            )
