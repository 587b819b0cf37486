"""Streaming queries with batch-exact oracles (driver-verifiable).

Structured Streaming output was previously test-only (no SQL-oracle
form), but a bounded file source drained with ``availableNow`` into a
memory sink IS deterministically batch-equivalent when two conditions
hold, and then the ordinary DuckDB value-hash oracle applies:

1. **complete emission at end-of-stream** — every group's final value
   reaches the sink.  Three routes, one per entry kind: *update* mode
   for ordinary stateful aggregations (st01) and per-row stateful ops
   (st02's dedup emits on first sight in append); *complete* mode for
   session windows (st04 — session aggs reject update, and append
   would withhold sessions ending within the watermark delay of
   ``max(ts)``); no mode caveat at all for stateless stream-static
   joins (st03 — one output row per input row, in the trigger that
   reads it).
2. **single-batch source** — each fixture table is one parquet file,
   so ``availableNow`` processes exactly one trigger and the memory
   sink holds one final row per group (across multiple batches, update
   mode would append one row per group PER UPDATE).

The callables run the stream to completion as a build side effect and
return the memory-sink table; the driver/oracle compare proceeds as
for any batch query.  This is the same batch-equivalence argument
tests/test_streaming.py proves for the wider streaming surface.
MULTI-trigger behaviors need a different gate: the compare must happen
after the FINAL drain, with the file sink itself as the oracle surface
— st08 proved that pattern for one trigger, and st09 extends it across
three (two source files + a replay of the first, exactly-once file
tracking checked by value).  Incremental partials maintenance across
triggers remains tests-only.  The entries cover every major streaming
operator class: tumbling (st01) and sliding (st07) watermarked
aggregations, bounded-state dedup (st02), stateless stream-static
broadcast enrichment (st03), built-in session windows (st04), a custom
applyInPandasWithState stateful operator (st05), a two-sided
watermarked stream-stream interval join (st06), the exactly-once
foreachBatch file sink verified at the file-contents level (st08), and
exactly-once multi-trigger ingestion with replay (st09).

Event-time domain is stated EXPLICITLY on both sides (the ev01
lesson), and it has TWO exclusions:

* NULL ``ts`` — no window and no watermark position;
* **pre-epoch ``ts``** — Spark's watermark starts at 0 (1970-01-01
  UTC) before the first batch, so any pre-epoch event time is BORN
  LATE and the watermarked stateful operator silently drops it (found
  by the o95/o96 pre-epoch corpora: the 1947 windows vanished from
  the streaming side only).  Real deployments hit this with sentinel
  dates and mis-parsed timestamps; the explicit ``ts >= epoch`` domain
  on both sides makes the behavior visible instead of silent.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_batch_spark.catalog import load_table, read_landed, stage_halves
from etl_batch_spark.queries.registry import query
from etl_batch_spark.streaming.events import (
    dedup_stream,
    enrich_with_dimension,
    funnel_stateful,
    purchase_attribution_join,
    read_events_stream,
    run_stream_to_memory,
    session_window_aggregate,
    windowed_event_counts,
)


@query(
    "st01_streaming_window_counts",
    doc="Structured Streaming tumbling-window counts/sums drained with "
    "availableNow into a memory sink — q05's streaming twin, value-hash "
    "checked against the batch oracle (update mode + single-batch "
    "source ⇒ emission is complete and batch-exact)",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
           CAST(date_trunc('hour', ts) + INTERVAL 1 HOUR AS TIMESTAMP)
             AS window_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    -- NULL ts has no window position; pre-epoch ts is below Spark's
    -- initial watermark (0) and born-late: both excluded on both sides
    FROM events
    WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
)
def st01_streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir).filter(
        F.col("ts").isNotNull() & (F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp"))
    )
    run_stream_to_memory(
        windowed_event_counts(stream, window="1 hour", watermark="2 hours"),
        query_name="st01_win_counts",
        output_mode="update",
    )
    return spark.table("st01_win_counts")


@query(
    "st02_streaming_dedup",
    doc="dropDuplicatesWithinWatermark over the event stream, drained "
    "with availableNow — bounded-state streaming dedup whose single-"
    "batch output equals DISTINCT (fixture duplicate rows are exact "
    "full-row copies, so first-per-id == any-per-id)",
    oracle="""
    SELECT DISTINCT event_id, ts, user_id, event_type, value, props
    -- NULL ts has no watermark position; pre-epoch ts is below
    -- Spark's initial watermark (0) and born-late: both excluded
    FROM events
    WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
    """,
)
def st02_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir).filter(
        F.col("ts").isNotNull() & (F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp"))
    )
    run_stream_to_memory(
        dedup_stream(stream, id_col="event_id", watermark="2 hours"),
        query_name="st02_dedup",
        output_mode="append",
    )
    return spark.table("st02_dedup").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@query(
    "st03_stream_static_enrich",
    doc="stream-static broadcast enrichment: the event stream left-joined "
    "to the bounded customer dimension per micro-batch "
    "(streaming.events.enrich_with_dimension) — the stream side never "
    "shuffles; stateless, so append mode is batch-exact with no "
    "watermark caveats (every input row emits exactly one output row "
    "in the trigger that reads it)",
    oracle="""
    SELECT e.event_id, e.ts, e.user_id, e.event_type,
           c.c_mktsegment AS segment,
           ROUND(c.c_acctbal, 2) AS acctbal
    -- stateless row-level join: no watermark, so NULL / pre-epoch ts
    -- rows pass straight through (unlike the stateful st01/st02/st04)
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def st03_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    run_stream_to_memory(
        enrich_with_dimension(stream, dim, on="user_id", how="left").select(
            "event_id", "ts", "user_id", "event_type", "segment", "acctbal"
        ),
        query_name="st03_enrich",
        output_mode="append",
    )
    return spark.table("st03_enrich")


@query(
    "st04_streaming_sessions",
    doc="streaming sessionization via the built-in session_window "
    "(streaming.events.session_window_aggregate) drained with "
    "availableNow — ev07's streaming twin.  Session aggregations "
    "reject update mode (a session could emit mid-merge), so this "
    "drains in COMPLETE mode: the memory sink then holds the full "
    "final state, which for a single-batch source equals the batch "
    "result exactly (append would withhold sessions ending within "
    "the watermark delay of max(ts))",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      -- NULL ts has no session; pre-epoch ts is below Spark's initial
      -- watermark (0) and born-late: both excluded on both sides
      FROM events
      WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
    ),
    islands AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
           ROUND(epoch(MAX(ts)) - epoch(MIN(ts)), 2) AS duration_s
    FROM islands GROUP BY user_id, sid
    """,
)
def st04_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir).filter(
        F.col("ts").isNotNull() & (F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp"))
    )
    run_stream_to_memory(
        session_window_aggregate(stream, gap="30 minutes", watermark="2 hours"),
        query_name="st04_sessions",
        output_mode="complete",
    )
    return spark.table("st04_sessions")


@query(
    "st05_streaming_funnel",
    doc="custom stateful operator under the hash gate: the "
    "applyInPandasWithState conversion funnel "
    "(streaming.events.funnel_stateful; per-user state is two longs) "
    "drained with availableNow, then reduced to ev01's three counts — "
    "the greedy chain-of-first-occurrence fold over one batch equals "
    "the batch min-chaining exactly.  No watermark is involved "
    "(NoTimeout state), so unlike st01/st04 there is NO pre-epoch "
    "exclusion: only NULL ts is out of domain (a timeless event can "
    "never advance a TIME funnel; also matches ev01's stated domain)",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY 1
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY 1
    )
    SELECT (SELECT COUNT(*) FROM s1) AS step1_view,
           (SELECT COUNT(*) FROM s2) AS step2_click,
           (SELECT COUNT(*) FROM s3) AS step3_purchase
    """,
)
def st05_streaming_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    run_stream_to_memory(
        funnel_stateful(stream), query_name="st05_funnel", output_mode="update"
    )
    per_user = spark.table("st05_funnel")
    # count(when(...)) so an EMPTY stream yields 0s like the oracle's
    # scalar COUNT subqueries (sum over zero rows would be NULL)
    return per_user.agg(
        F.count(F.when(F.col("step") >= 1, 1)).alias("step1_view"),
        F.count(F.when(F.col("step") >= 2, 1)).alias("step2_click"),
        F.count(F.when(F.col("step") >= 3, 1)).alias("step3_purchase"),
    )


@query(
    "st06_stream_stream_attribution",
    doc="stream-stream interval join (streaming.events."
    "purchase_attribution_join): purchases matched to same-user clicks "
    "in the preceding hour, both sides watermarked so join state is "
    "evictable.  Inner-join matches emit within the trigger that sees "
    "both rows, and the initial watermark is 0 during the single "
    "availableNow batch, so append output is batch-exact over the "
    "ts >= epoch domain (pre-epoch rows are born late; NULL ts has no "
    "watermark position — both excluded on both sides)",
    oracle="""
    SELECT p.user_id,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           p.value AS purchase_value,
           c.event_id AS click_id,
           c.ts AS click_ts
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
      AND p.ts IS NOT NULL AND p.ts >= TIMESTAMP '1970-01-01 00:00:00'
      AND c.ts IS NOT NULL AND c.ts >= TIMESTAMP '1970-01-01 00:00:00'
    """,
)
def st06_stream_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    domain = F.col("ts").isNotNull() & (
        F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp")
    )
    clicks = read_events_stream(spark, sf_dir).filter(
        domain & (F.col("event_type") == "click")
    )
    purchases = read_events_stream(spark, sf_dir).filter(
        domain & (F.col("event_type") == "purchase")
    )
    run_stream_to_memory(
        purchase_attribution_join(
            clicks, purchases, attribution_window="1 hour", watermark="2 hours"
        ),
        query_name="st06_attribution",
        output_mode="append",
    )
    return spark.table("st06_attribution")


@query(
    "st07_streaming_sliding_windows",
    doc="sliding-window counts (streaming.events.sliding_event_counts, "
    "2h window / 1h slide): every event lands in exactly two "
    "overlapping windows; update mode + single-batch source is "
    "batch-exact as in st01.  The oracle replays Spark's window "
    "semantics — starts aligned to slide multiples, so each event's "
    "two windows are date_trunc(hour) and date_trunc(hour) - 1h",
    oracle="""
    SELECT window_start,
           window_start + INTERVAL 2 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events
    FROM (
      SELECT event_type,
             CAST(date_trunc('hour', ts) AS TIMESTAMP)
               - k.k * INTERVAL 1 HOUR AS window_start
      -- NULL ts has no window position; pre-epoch ts is below Spark's
      -- initial watermark (0) and born-late: both excluded on both sides
      FROM events CROSS JOIN (VALUES (0), (1)) AS k(k)
      WHERE ts IS NOT NULL AND ts >= TIMESTAMP '1970-01-01 00:00:00'
    )
    GROUP BY 1, 2, 3
    """,
)
def st07_streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.streaming.events import sliding_event_counts

    stream = read_events_stream(spark, sf_dir).filter(
        F.col("ts").isNotNull() & (F.col("ts") >= F.lit("1970-01-01 00:00:00").cast("timestamp"))
    )
    run_stream_to_memory(
        sliding_event_counts(stream, window="2 hours", slide="1 hour", watermark="3 hours"),
        query_name="st07_sliding",
        output_mode="update",
    )
    return spark.table("st07_sliding")


@query(
    "st08_streaming_file_sink",
    doc="exactly-once foreachBatch file sink under the hash gate "
    "(streaming.events.write_idempotent_batches): the stream lands as "
    "TxTable commits (one per micro-batch, batch id and checkpoint "
    "incarnation in the commit metadata), is read back through the "
    "table's log, materialized, and compared by value against the batch "
    "projection — the sink verified at the contents level, not just by "
    "tests.  Stateless row-level transform, so no watermark caveats",
    oracle="""
    SELECT event_id, ts, user_id, event_type,
           ROUND(value * 2, 2) AS doubled
    FROM events
    WHERE value IS NOT NULL
    """,
)
def st08_streaming_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.streaming.events import write_idempotent_batches

    with tempfile.TemporaryDirectory(prefix="st08_sink_", ignore_cleanup_errors=True) as tmp:
        stream = read_events_stream(spark, sf_dir).filter(
            F.col("value").isNotNull()
        )
        result = stream.select(
            "event_id", "ts", "user_id", "event_type",
            F.round(F.col("value") * 2, 2).alias("doubled"),
        )
        out, ck = os.path.join(tmp, "out"), os.path.join(tmp, "ck")
        _, table = write_idempotent_batches(result, path=out, checkpoint=ck)
        return read_landed(table, result.schema).localCheckpoint(eager=True)


@query(
    "st09_incremental_ingest_replay",
    doc="exactly-once incremental ingestion ACROSS MULTIPLE TRIGGERS "
    "under the hash gate (streaming.events.ingest_incrementally): the "
    "events table is split into two source files, drained in two "
    "separate availableNow runs sharing one checkpoint, then the FIRST "
    "file is re-presented (same path, fresh mtime — the crash/replay "
    "shape) and a third drain runs.  The checkpoint's file tracking "
    "must ingest each file exactly once: any double-load shows as "
    "duplicate rows in the value-hash compare against the plain batch "
    "oracle.  First multi-trigger streaming behavior under the driver "
    "gate — crash replay/checkpoint recovery were tests-only before "
    "(reference analogue: duplicate-run checks + loader file lists, "
    "pkg_batch_util_body.sql:219-247, 1163-1251)",
    oracle="""
    SELECT event_id, user_id, event_type,
           ROUND(value * 3, 2) AS tripled
    FROM events
    WHERE value IS NOT NULL
    """,
)
def st09_incremental_ingest_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.streaming.events import ingest_incrementally

    with tempfile.TemporaryDirectory(prefix="st09_ingest_", ignore_cleanup_errors=True) as tmp:
        src = os.path.join(tmp, "src")
        dst = os.path.join(tmp, "dst")
        ck = os.path.join(tmp, "ck")
        os.makedirs(src)

        base = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select("event_id", "user_id", "event_type", "value")
        )

        def transform(s: DataFrame) -> DataFrame:
            return s.select(
                "event_id", "user_id", "event_type",
                F.round(F.col("value") * 3, 2).alias("tripled"),
            )

        part0, part1 = stage_halves(base, tmp)
        kwargs = dict(schema=base.schema, transform=transform)
        shutil.copyfile(part0, os.path.join(src, "f0.parquet"))
        ingest_incrementally(spark, src, dst, ck, **kwargs)
        shutil.copyfile(part1, os.path.join(src, "f1.parquet"))
        ingest_incrementally(spark, src, dst, ck, **kwargs)
        # replay the first file: same path, same contents, NEW mtime —
        # the checkpoint tracks it as seen, so this drain must be a no-op
        shutil.copyfile(part0, os.path.join(src, "f0.parquet"))
        replay_batches, table = ingest_incrementally(spark, src, dst, ck, **kwargs)
        if replay_batches != 0:
            raise AssertionError(
                f"replayed source file was re-ingested ({replay_batches} "
                "batches); exactly-once file tracking is broken"
            )
        back = read_landed(table, transform(base).schema)
        return back.localCheckpoint(eager=True)


@query(
    "st10_streaming_upsert_tombstones",
    doc="row-level streaming MERGE across multiple triggers under the hash "
    "gate (streaming.events.upsert_latest_versioned): two availableNow "
    "drains over split event files fold latest-wins per user into a "
    "TxTable (one commit per batch, replay detection in the commit "
    "metadata), a replayed source file must commit nothing, and the "
    "tombstone-aware live view (keys whose LATEST event is a 'purchase' "
    "delete are absent) is value-hash compared against the batch "
    "latest-per-key fold.  Tombstones stay in stored state so an older "
    "late event can never resurrect a deleted key — the oracle sees that "
    "only through the final filter, which is the point: multi-batch "
    "latest-wins == single-pass latest-wins",
    oracle="""
    WITH latest AS (
      SELECT user_id, ts, event_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST,
                        event_type DESC NULLS LAST, value DESC NULLS LAST
             ) AS rn
      FROM events
    )
    SELECT user_id, ts, event_id, event_type, value
    FROM latest
    WHERE rn = 1 AND event_type IS DISTINCT FROM 'purchase'
    """,
)
def st10_streaming_upsert_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.streaming.events import upsert_latest_versioned

    with tempfile.TemporaryDirectory(prefix="st10_upsert_", ignore_cleanup_errors=True) as tmp:
        src = os.path.join(tmp, "src")
        table_path = os.path.join(tmp, "table")
        ck = os.path.join(tmp, "ck")
        os.makedirs(src)

        part0, part1 = stage_halves(load_table(spark, sf_dir, "events"), tmp)
        kwargs = dict(key_col="user_id", delete_type="purchase")
        shutil.copyfile(part0, os.path.join(src, "events_a.parquet"))
        _, t, live = upsert_latest_versioned(spark, src, table_path, ck, **kwargs)
        if t.latest_version() != 0:
            raise AssertionError(f"drain 1 did not land as commit v0: {t.history()}")
        shutil.copyfile(part1, os.path.join(src, "events_b.parquet"))
        upsert_latest_versioned(spark, src, table_path, ck, **kwargs)
        if t.latest_version() != 1:
            raise AssertionError(f"drain 2 did not land as commit v1: {t.history()}")
        shutil.copyfile(part0, os.path.join(src, "events_a.parquet"))
        replayed, _, live = upsert_latest_versioned(
            spark, src, table_path, ck, **kwargs
        )
        if replayed != 0 or t.latest_version() != 1:
            raise AssertionError(
                f"replayed file re-committed ({replayed} batches, "
                f"head v{t.latest_version()})"
            )
        out = live().select("user_id", "ts", "event_id", "event_type", "value")
        return out.localCheckpoint(eager=True)


@query(
    "st11_torn_crash_sink_replay",
    doc="torn-crash SINK-batch replay under the hash gate "
    "(streaming.events.ingest_incrementally): st09 proves a replayed "
    "SOURCE file is a no-op; this pins the other multi-trigger failure "
    "shape — the sink wrote batch N but the crash landed BEFORE the "
    "checkpoint's epoch commit, so the restart re-delivers the SAME "
    "batch id.  Simulated by deleting the checkpoint's last commit "
    "marker (offsets intact) between drains, exactly the tests-only "
    "simulation in tests/test_streaming.py promoted to the oracle "
    "gate.  foreachBatch is only at-least-once per batch, so a bare "
    "append sink would now hold batch 1 twice; the TxTable sink finds "
    "batch 1 already committed under this checkpoint's incarnation and "
    "skips it.  Asserts in-query that the replay drain actually re-ran "
    "(1 batch — the opposite of st09's 0) and the value-hash compare "
    "against the plain batch oracle catches any double-append "
    "(reference analogue: restartability/resume, "
    "pkg_batch_util_body.sql:632-645)",
    oracle="""
    SELECT event_id, user_id, event_type,
           ROUND(value * 3, 2) AS tripled
    FROM events
    WHERE value IS NOT NULL
    """,
)
def st11_torn_crash_sink_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.streaming.events import ingest_incrementally

    with tempfile.TemporaryDirectory(prefix="st11_torn_", ignore_cleanup_errors=True) as tmp:
        src = os.path.join(tmp, "src")
        dst = os.path.join(tmp, "dst")
        ck = os.path.join(tmp, "ck")
        os.makedirs(src)

        base = (
            load_table(spark, sf_dir, "events")
            .filter(F.col("value").isNotNull())
            .select("event_id", "user_id", "event_type", "value")
        )

        def transform(s: DataFrame) -> DataFrame:
            return s.select(
                "event_id", "user_id", "event_type",
                F.round(F.col("value") * 3, 2).alias("tripled"),
            )

        def drop_last_commit() -> bool:
            """Torn crash: offsets for the epoch exist, its commit marker
            is lost.  The local ChecksumFs shadows each commit with a
            .N.crc — drop both.  Returns False when no commit exists to
            tear (the e0 empty corpus never drains a batch)."""
            commits_dir = os.path.join(ck, "commits")
            if not os.path.isdir(commits_dir):
                return False
            epochs = [n for n in os.listdir(commits_dir) if n.isdigit()]
            if not epochs:
                return False
            last = max(epochs, key=int)
            os.remove(os.path.join(commits_dir, last))
            crc = os.path.join(commits_dir, f".{last}.crc")
            if os.path.exists(crc):
                os.remove(crc)
            return True

        part0, part1 = stage_halves(base, tmp)
        kwargs = dict(schema=base.schema, transform=transform)
        shutil.copyfile(part0, os.path.join(src, "f0.parquet"))
        ingest_incrementally(spark, src, dst, ck, **kwargs)
        shutil.copyfile(part1, os.path.join(src, "f1.parquet"))
        _, table = ingest_incrementally(spark, src, dst, ck, **kwargs)

        if drop_last_commit():
            # restart after the torn crash: the lost epoch MUST re-run
            # (not skip), and the sink must find its commit already in
            # the table rather than append a second copy
            replayed, _ = ingest_incrementally(spark, src, dst, ck, **kwargs)
            if replayed != 1:
                raise AssertionError(
                    f"torn-crash restart re-ran {replayed} batches, "
                    "expected exactly the one lost epoch"
                )
        back = read_landed(table, transform(base).schema)
        return back.localCheckpoint(eager=True)


@query(
    "st12_streaming_schema_evolution",
    doc="mid-stream schema evolution under the hash gate (streaming."
    "events.upsert_latest_versioned): drain 1 builds keyed state, then "
    "the pipeline is redeployed with a widened transform — the next "
    "drain REFUSES at the batch boundary (SchemaEvolutionError inside "
    "the sink, asserted in-query: checkpoint not advanced, table head "
    "untouched) and the merge_schema=True re-run re-delivers the same "
    "batch, evolving the state: the union schema lands in the commit "
    "log, pre-evolution winners NULL-fill the new column.  Value-hash "
    "compared against the single-pass latest-per-key oracle where the "
    "new column exists exactly for winners from the post-evolution "
    "half (reference analogue: resume with changed parameters, "
    "pkg_batch_util_body.sql:632-645)",
    oracle="""
    WITH latest AS (
      SELECT user_id, ts, event_id, event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST,
                        event_type DESC NULLS LAST, value DESC NULLS LAST
             ) AS rn
      FROM events
    )
    SELECT user_id, ts, event_id, event_type, value,
           CASE WHEN COALESCE(((event_id % 2) + 2) % 2, 0) = 1
                THEN ROUND(value * 2, 2) END AS v2
    FROM latest
    WHERE rn = 1 AND event_type IS DISTINCT FROM 'purchase'
    """,
)
def st12_streaming_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.streaming.events import upsert_latest_versioned

    with tempfile.TemporaryDirectory(prefix="st12_evolve_", ignore_cleanup_errors=True) as tmp:
        src = os.path.join(tmp, "src")
        table_path = os.path.join(tmp, "table")
        ck = os.path.join(tmp, "ck")
        os.makedirs(src)

        part0, part1 = stage_halves(load_table(spark, sf_dir, "events"), tmp)
        base = dict(key_col="user_id", delete_type="purchase")
        widened = dict(
            transform=lambda df: df.withColumn(
                "v2", F.round(F.col("value") * 2, 2)
            ),
            **base,
        )

        shutil.copyfile(part0, os.path.join(src, "events_a.parquet"))
        _, t, _ = upsert_latest_versioned(spark, src, table_path, ck, **base)
        v_head = t.latest_version()

        # "redeploy" with the widened transform: the drift must refuse
        # at the batch boundary, committing nothing
        shutil.copyfile(part1, os.path.join(src, "events_b.parquet"))
        try:
            upsert_latest_versioned(spark, src, table_path, ck, **widened)
            raise AssertionError(
                "drifted batch schema was committed without "
                "merge_schema=True — silent mid-stream schema drift"
            )
        except AssertionError:
            raise
        except Exception as exc:
            # upsert_latest_versioned now unwraps the foreachBatch
            # wrapper to the documented SchemaEvolutionError; keep the
            # substring fallback so the gate stays meaningful either way
            from etl_batch_spark.sources.txlog import SchemaEvolutionError

            if not isinstance(exc, SchemaEvolutionError) and (
                "SchemaEvolutionError" not in str(exc)
            ):
                raise
        if t.latest_version() != v_head:
            raise AssertionError(
                "refused drain moved the table head: "
                f"v{t.latest_version()} != v{v_head}"
            )

        # re-run WITH the flag: the same batch re-delivers (the refusal
        # never advanced the checkpoint) and the state evolves
        _, t, live = upsert_latest_versioned(
            spark, src, table_path, ck, merge_schema=True, **widened
        )
        names = t.schema_at().fieldNames() if t.schema_at() else []
        if names and names[-1] != "v2":
            raise AssertionError(f"union schema missing v2: {names}")
        out = live().select(
            "user_id", "ts", "event_id", "event_type", "value", "v2"
        )
        return out.localCheckpoint(eager=True)
