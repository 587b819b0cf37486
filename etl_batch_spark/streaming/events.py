"""Structured Streaming over the ``events`` table.

The reference's notion of "streaming" is scheduled batches gated by
DAILY000 (SURVEY.md §2.D); the engine adds real Structured Streaming:

- :func:`read_events_stream`       — file-source stream with the same
  nanos→micros ts handling as the batch catalog
- :func:`windowed_event_counts`    — watermarked tumbling-window aggs
  (late data dropped past the watermark)
- :func:`funnel_stateful`          — custom stateful operator via
  ``applyInPandasWithState`` (per-user funnel progress kept across
  triggers), the pattern for operators Spark lacks natively
- :func:`dedup_stream`             — bounded-state exact dedup via
  ``dropDuplicatesWithinWatermark`` (at-least-once → exactly-once)
- :func:`purchase_attribution_join` — stream-stream interval join with
  two-sided watermarks (evictable join state)

Durable sinks drain with ``foreachBatch`` into a
:class:`~etl_batch_spark.sources.txlog.TxTable`, one commit per
micro-batch, and replay by the single rule in :func:`_exactly_once_sink`:
:func:`write_idempotent_batches` and :func:`ingest_incrementally` append
rows, :func:`maintain_partials_versioned` and
:func:`upsert_latest_versioned` merge into stored state.

Tests run with ``trigger(availableNow=True)`` against the fixture
parquet and assert equivalence with the batch semantics.  At production
scale the same code points at a Kafka/object-store source; state is
checkpointed per trigger.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from etl_batch_spark.catalog import DATA_TABLES, _events_ts_is_nanos

_RAW_EVENTS = T.StructType(
    [
        f if f.name != "ts" else T.StructField("ts", T.LongType())
        for f in DATA_TABLES["events"].fields
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # file-source streams require a directory: stream the sf dir with a
    # glob filter selecting only the events file.  Fixtures have shipped
    # ts as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS); mirror the
    # batch catalog's footer sniff (catalog.load_table).
    if _events_ts_is_nanos(sf_dir):
        return (
            spark.readStream.schema(_RAW_EVENTS)
            .option("pathGlobFilter", "events*.parquet")
            .parquet(sf_dir)
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    return (
        spark.readStream.schema(DATA_TABLES["events"])
        .option("pathGlobFilter", "events*.parquet")
        .parquet(sf_dir)
    )


def windowed_event_counts(
    stream: DataFrame, *, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts+sums per event_type with late-data watermark."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    stream: DataFrame, *, id_col: str = "event_id", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: drop re-deliveries of the same ``id_col``
    arriving within the watermark horizon.  State is bounded — ids older
    than the watermark are evicted — which is the only dedup that can
    run forever on an unbounded stream (an unwatermarked
    ``dropDuplicates`` grows state without limit).  Ingest-side
    at-least-once sources (Kafka redeliveries, file re-lists) become
    exactly-once rows for everything downstream."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark([id_col])


def session_window_aggregate(
    stream: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization with the BUILT-IN ``session_window``
    (ev07's batch twin): per-user events closer than ``gap`` merge into
    one session row carrying start/count/duration.  State is the set of
    open sessions; the watermark closes (and evicts) a session once no
    event can extend it, so state is bounded by the active-user count —
    the plan that holds on an unbounded 100 TB/day stream.  Streaming
    session aggregations support append and complete output only
    (update would emit a session mid-merge); append emits each session
    exactly once when the watermark passes its end."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.unix_micros(F.max("ts")) / 1e6 - F.unix_micros(F.min("ts")) / 1e6, 2
            ).alias("duration_s"),
        )
        .select("user_id", "session_start", "n_events", "duration_s")
    )


def purchase_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    *,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to same-user
    clicks in the preceding ``attribution_window``.  Both sides carry
    watermarks and the join condition bounds event-time distance, so
    state for both streams is evictable — the canonical funnel /
    attribution shape.  Inputs are pre-filtered event streams (e.g.
    ``stream.filter(event_type == 'click')``)."""
    c = clicks.select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark)
    cond = (
        (F.col("c_user_id") == F.col("p_user_id"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {attribution_window}"))
    )
    return c.join(p, cond).select(
        F.col("p_user_id").alias("user_id"),
        "purchase_id",
        "purchase_ts",
        "purchase_value",
        "click_id",
        "click_ts",
    )


def run_stream_to_memory(
    result: DataFrame, *, query_name: str, output_mode: str = "update"
) -> None:
    """Drain the stream into an in-memory table with availableNow (test /
    backfill harness; production uses a real sink + checkpoint)."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_FUNNEL_STATE = T.StructType(
    [
        T.StructField("step", T.LongType()),
        T.StructField("step_ts_us", T.LongType()),
    ]
)

_FUNNEL_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("step", T.LongType()),
    ]
)


def funnel_stateful(
    stream: DataFrame, *, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """Streaming conversion funnel: per-user furthest step reached, with
    chain-of-first-occurrence semantics matching the batch ``ev01``
    query — step k+1 counts only strictly after the event that completed
    step k.  State per user is two longs (step, its event time), never a
    buffer of events; each trigger folds its micro-batch in event-time
    order.  Cross-batch stragglers older than the completed step's
    timestamp are ignored — the standard streaming-funnel approximation;
    an exact replay lives one batch query away (``eventsq.ev01_funnel``).
    """

    def update(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],  # noqa: F821
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        # the "no step yet" sentinel must sit below ANY event time —
        # pre-epoch timestamps are NEGATIVE micros, so a -1 sentinel
        # would silently refuse to start the funnel for a user whose
        # first view is pre-1970 (caught by the o95 corpus); int64 min
        # is below every representable event time
        step, step_ts = state.get if state.exists else (0, -(1 << 63))
        rows: list[tuple[int, str]] = []
        for pdf in batches:
            rows.extend(zip((int(v) for v in pdf["ts_us"]), pdf["event_type"]))
        for ts_us, etype in sorted(rows):
            if step < len(steps) and etype == steps[step] and ts_us > step_ts:
                step += 1
                step_ts = ts_us
        state.update((step, step_ts))
        yield pd.DataFrame({"user_id": [key[0]], "step": [step]})

    return (
        stream.withColumn("ts_us", F.unix_micros("ts"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update, _FUNNEL_OUT, _FUNNEL_STATE, "Update", GroupStateTimeout.NoTimeout
        )
    )


def sliding_event_counts(
    stream: DataFrame,
    *,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "3 hours",
) -> DataFrame:
    """Sliding-window counts per event_type (each event lands in
    window/slide overlapping windows).  State per key is bounded by
    (watermark + window) / slide open windows; the overlap factor
    multiplies shuffle volume, which is why the tumbling variant is the
    default and sliding is reserved for trend queries that need it."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )


def write_idempotent_batches(result: DataFrame, *, path: str, checkpoint: str):
    """Exactly-once append sink via ``foreachBatch``: each micro-batch of
    ``result`` lands as one commit of the
    :class:`~etl_batch_spark.sources.txlog.TxTable` at ``path``, and
    replays follow :func:`_exactly_once_sink` (a re-delivered batch is
    skipped, a lost checkpoint rebuilds the table from the re-read).
    Drains with availableNow; the checkpoint carries source offsets so a
    restart resumes, not re-reads.

    A stream whose schema differs from the table's refuses with
    :class:`~etl_batch_spark.sources.txlog.SchemaEvolutionError` before
    it starts, leaving the checkpoint and the table untouched.

    Returns ``(n_batches, TxTable)``; read the rows with ``table.read()``
    (the directory also holds files a rebuild superseded).
    """
    from etl_batch_spark.sources.txlog import TxTable

    table = TxTable(result.sparkSession, path)
    table._evolved_schema(result, merge_schema=False)
    sink = _exactly_once_sink(table, checkpoint, build=lambda batch: batch)
    return _drain(result, sink, checkpoint), table


def _drain(stream: DataFrame, sink, checkpoint_dir: str) -> int:
    """Run ``sink(batch_df, batch_id)`` over every micro-batch pending
    under ``checkpoint_dir`` (``trigger(availableNow=True)``), wait for
    the stream to stop, and return the number of batches delivered."""
    n_batches = 0

    def counted(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        sink(batch_df, batch_id)

    (
        stream.writeStream.foreachBatch(counted)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return n_batches


def enrich_with_dimension(stream: DataFrame, dim: DataFrame, *, on: str, how: str = "left") -> DataFrame:
    """Stream-static broadcast enrichment: join a micro-batched stream to
    a bounded dimension table.

    The static side is re-resolved per micro-batch (so a dim refresh is
    picked up without restarting the query) and broadcast — the stream
    side never shuffles, which is the only sane plan for a 100 TB/day
    stream against a bounded dim.  For unbounded/slow-changing dims use
    ``purchase_attribution_join`` (stream-stream, watermarked) instead.
    """
    return stream.join(F.broadcast(dim), on, how)


def ingest_incrementally(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    checkpoint_dir: str,
    *,
    schema: T.StructType,
    file_format: str = "parquet",
    transform=None,
    merge_schema: bool = False,
):
    """Incremental file ingestion (the cloud "auto loader" pattern):
    each call discovers files in ``src_dir`` that no previous call
    processed — tracked in the streaming checkpoint, not by listing
    diffs — transforms them, and appends them to the
    :class:`~etl_batch_spark.sources.txlog.TxTable` at ``dst_dir``.
    Returns ``(n_batches, TxTable)``; ``n_batches`` is 0 when nothing
    is new.

    ``trigger(availableNow=True)`` drains everything pending and stops,
    so this runs as a plain batch job on a schedule (the engine's
    BatchRunner slots it like any module) while inheriting streaming's
    exactly-once file tracking, the property the reference approximates
    with duplicate-run checks + loader file lists
    (pkg_batch_util_body.sql:219–247, 1163–1251).  ``foreachBatch`` is
    only at-least-once per batch, so the sink is the append of
    :func:`write_idempotent_batches`: a batch re-delivered after a torn
    crash is skipped, and a lost checkpoint rebuilds the table from the
    full re-read instead of landing on top of it.  Read the table with
    ``table.read()``.

    At 100 TB the file listing is the bottleneck — cap per-batch intake
    with ``maxFilesPerTrigger`` upstream or partition ``src_dir`` by
    arrival date; state stays O(files seen), on storage, not memory.

    **Schema evolution across runs is checked against the table's log
    schema** before the stream starts: a drifted output schema REFUSES
    with :class:`~etl_batch_spark.sources.txlog.SchemaEvolutionError`
    — the checkpoint and the table are untouched — unless
    ``merge_schema=True``, which admits ADDED columns (the commit that
    lands the first evolved batch records the union schema, and older
    files NULL-fill the new columns on read).  A type change or a
    REMOVED column refuses either way: silently narrowing a landing
    table is how downstream batch jobs start reading garbage (reference
    analogue: resume with changed parameters,
    pkg_batch_util_body.sql:632–645 — the run either matches its
    registered definition or is rejected).
    """
    from etl_batch_spark.sources.txlog import SchemaEvolutionError, TxTable

    reader = spark.readStream.schema(schema)
    stream = getattr(reader, file_format)(src_dir)
    if transform is not None:
        stream = transform(stream)

    table = TxTable(spark, dst_dir)
    prior = table.schema_at() or T.StructType()
    removed = set(prior.fieldNames()) - set(stream.columns)
    if removed:
        raise SchemaEvolutionError(
            f"ingest output drops column(s) {sorted(removed)} the table's "
            "schema carries; narrowing a landing table needs a new "
            "checkpoint + table, not a resumed stream"
        )
    table._evolved_schema(stream, merge_schema=merge_schema)
    sink = _exactly_once_sink(table, checkpoint_dir, build=lambda batch: batch)
    return _drain(stream, sink, checkpoint_dir), table


def _checkpoint_incarnation(checkpoint_dir: str) -> str:
    """Token identifying one checkpoint directory's lifetime.

    Minted when the checkpoint is first used and stored INSIDE it, so it
    lives and dies with the checkpoint: a lost checkpoint means a new
    token, and :func:`_exactly_once_sink` reads the mismatch as "rebuild",
    not "replay".
    """
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, "_incarnation")
    try:
        with open(path) as f:
            tok = f.read().strip()
        if tok:
            return tok
    except OSError:
        pass
    tok = uuid.uuid4().hex
    tmp = f"{path}.__{tok}__"
    with open(tmp, "w") as f:
        f.write(tok)
    os.rename(tmp, path)
    return tok


def _exactly_once_sink(table, checkpoint_dir: str, *, build, merge=None):
    """foreachBatch sink maintaining ``table`` (a
    :class:`~etl_batch_spark.sources.txlog.TxTable`) from a stream:
    ``build(batch_df)`` turns one micro-batch into rows and
    ``merge(stored, fresh)`` folds them into the stored snapshot.
    ``merge=None`` marks an append-only store, whose new batches commit
    as appends and leave the stored files in place.

    The exactly-once rule, for every streaming store in this module.
    ``foreachBatch`` is only at-least-once: a crash between the table
    commit and the checkpoint's epoch commit re-delivers the same
    batch id on restart.  Each commit therefore records
    ``{"batch_id", "incarnation"}`` in its metadata, atomically with the
    data, and each batch reads the head commit's metadata once:

    - same incarnation, ``batch_id`` already committed: a replay — skip;
    - same incarnation, newer batch: append, or merge into
      ``table.read()``;
    - no commit yet, or another incarnation: rebuild from this batch
      alone.  A lost checkpoint restarts batch ids at 0 over a full
      source re-read, so its batches must neither be skipped (old ids
      would gate them) nor added to the old state (double count).  This
      is correct as long as source retention covers the checkpoint's
      loss window: keep state and checkpoint together, and vacuum source
      files only past both.

    A crash before the commit leaves the head as it was, so the re-run
    commits the re-delivered batch exactly once.  Superseded versions
    stay on disk until the caller runs ``table.vacuum(...)``.  Append
    callers settle the schema before the stream starts, so an append
    admits it (``merge_schema=True``).
    """
    incarnation = _checkpoint_incarnation(checkpoint_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        meta = table.latest_meta()
        same_run = meta is not None and meta.get("incarnation") == incarnation
        if same_run and meta["batch_id"] >= batch_id:
            return
        fresh = build(batch_df)
        tag = {"batch_id": batch_id, "incarnation": incarnation}
        if not same_run:
            table.overwrite(fresh, meta=tag)
        elif merge is None:
            table.append(fresh, meta=tag, merge_schema=True)
        else:
            table.overwrite(merge(table.read(), fresh), meta=tag)

    return sink


def maintain_partials_versioned(
    spark: SparkSession,
    src_dir: str,
    table_path: str,
    checkpoint_dir: str,
    *,
    build,
    merge,
):
    """Generic streaming continuous aggregate over ANY mergeable-partials
    family, stored as a :class:`~etl_batch_spark.sources.txlog.TxTable`:
    ``build(batch_df) -> partials`` turns one micro-batch into partial
    rows, ``merge(stored ∪ fresh) -> partials`` re-aggregates.  The only
    requirement is that ``merge`` is associative/idempotent over row
    UNION, which every partials family in this engine satisfies
    (numeric n/sum/min/max: operators/rollup.py; HLL registers via MAX:
    operators/sketch.py::hll_merge; histogram bins and count-min
    counters via SUM: hist_merge / cms_merge).

    Each micro-batch's merge lands as one versioned commit (replays
    follow :func:`_exactly_once_sink`), so the aggregate's history is
    queryable — ``table.read(version=k)`` shows it exactly as it stood
    after commit k, the continuous-aggregate analogue of time travel —
    and compaction/vacuum come from the table format.  Read the store
    through ``table.read()``: the directory also holds superseded files.

    Returns ``(n_batches, TxTable)``.
    """
    from etl_batch_spark.sources.txlog import TxTable

    table = TxTable(spark, table_path)
    sink = _exactly_once_sink(
        table,
        checkpoint_dir,
        build=build,
        merge=lambda stored, fresh: merge(stored.unionByName(fresh)),
    )
    return _drain(read_events_stream(spark, src_dir), sink, checkpoint_dir), table


def _latest_per_key(df: DataFrame, key_col: str) -> DataFrame:
    """Latest event per key by (ts, event_id) — the upsert fold.  Kept
    module-level so the tombstone-vs-late-event merge semantics are
    directly testable.  Carries EVERY non-key column through the fold
    (schema evolution adds columns; the fold must not drop them); the
    struct comparison stays (ts, event_id, <remaining in input
    order>), so added columns only ever extend the tie-break tail."""
    rest = [c for c in df.columns if c not in (key_col, "ts", "event_id")]
    cols = ["ts", "event_id", *rest]
    return (
        df.groupBy(key_col)
        .agg(F.max(F.struct(*cols)).alias("s"))
        .select(
            key_col, *[F.col(f"s.{c}").alias(c) for c in cols]
        )
    )


def upsert_latest_versioned(
    spark: SparkSession,
    src_dir: str,
    table_path: str,
    checkpoint_dir: str,
    *,
    key_col: str = "user_id",
    delete_type: str = "error",
    transform=None,
    merge_schema: bool = False,
):
    """Streaming keyed upsert (the row-level sibling of
    :func:`maintain_partials_versioned`): each micro-batch folds to its
    latest event per key, merges latest-wins into the stored state, and
    commits one TxTable version — a Delta-style streaming MERGE sink.
    Events of ``delete_type`` are tombstones: a key whose latest event
    is a delete is ABSENT from the live view (CDC I/U/D semantics over
    a stream).  Tombstone rows stay in stored state — dropping them
    would let a later batch resurrect the key from an older, late-
    arriving event, since latest-wins needs the delete's (ts, event_id)
    to compare against.  Read live state via the returned ``live``
    builder (``read()`` filtered of tombstones); a retention job may
    vacuum tombstones older than the source's max lateness.

    Replays follow :func:`_exactly_once_sink`; per-batch work is one
    batch-local reduce + one keyed merge against current state —
    O(state + batch), never reprocessing history.  Returns
    ``(n_batches, TxTable, live)`` with ``live()`` the tombstone-free
    view of the current version.

    **Schema evolution across runs is PINNED**: a resumed run whose
    (post-``transform``) batch schema drifts from the stored state's
    refuses with :class:`~etl_batch_spark.sources.txlog.
    SchemaEvolutionError` at the NEXT BATCH boundary — inside the sink,
    BEFORE any commit, so the streaming checkpoint does not advance and
    the table head is untouched; the re-run (fixed code, or
    ``merge_schema=True``) re-delivers the same batch.  With
    ``merge_schema=True`` the state evolves: the merged snapshot
    carries the union schema in the commit log (et40 semantics), rows
    whose latest event predates the evolution NULL-fill the new
    columns, and a column the new batches no longer produce NULL-fills
    going forward.  A TYPE change on a shared column refuses either
    way.  (The rebuild path — lost checkpoint, fresh incarnation —
    replaces the schema wholesale like any overwrite: the full source
    re-read defines the state from scratch.)
    """
    from etl_batch_spark.sources.txlog import (
        SchemaEvolutionError,
        TxTable,
        _merge_schemas,
        _norm_schema,
    )

    table = TxTable(spark, table_path)
    stream = read_events_stream(spark, src_dir)
    if transform is not None:
        stream = transform(stream)

    def latest_per_key(df: DataFrame) -> DataFrame:
        return _latest_per_key(df, key_col)

    # the drift refusal raises INSIDE foreachBatch, which Spark wraps in
    # a StreamingQueryException at awaitTermination — record the real
    # exception so callers catch the documented SchemaEvolutionError,
    # not a wrapper they must string-match
    drift_refusal: "list[SchemaEvolutionError]" = []

    def merge(cur: DataFrame, fresh: DataFrame) -> DataFrame:
        cur_s = _norm_schema(cur.schema)
        new_s = _norm_schema(fresh.schema)
        if {(x.name, x.dataType) for x in cur_s.fields} == {
            (x.name, x.dataType) for x in new_s.fields
        }:
            return latest_per_key(cur.unionByName(fresh))
        # union schema first: a type change raises regardless — record
        # EITHER refusal path (drift with merge_schema=False, or
        # _merge_schemas' type-change error) so both unwrap identically
        # at awaitTermination, honoring the docstring's "refuses either
        # way" contract
        try:
            union_s = _merge_schemas(cur_s, new_s)
            if not merge_schema:
                raise SchemaEvolutionError(
                    f"batch schema {new_s.simpleString()} drifted "
                    f"from stored state {cur_s.simpleString()}; pass "
                    "merge_schema=True to evolve at this batch "
                    "boundary (the checkpoint has not advanced)"
                )
        except SchemaEvolutionError as refusal:
            drift_refusal.append(refusal)
            raise
        return latest_per_key(
            cur.unionByName(fresh, allowMissingColumns=True)
            .select(*union_s.fieldNames())
        )

    # tombstones are state, not garbage: the merge keeps them so a later
    # batch's OLDER event for the key still loses latest-wins
    sink = _exactly_once_sink(table, checkpoint_dir, build=latest_per_key, merge=merge)
    try:
        n_batches = _drain(stream, sink, checkpoint_dir)
    except Exception as exc:
        if drift_refusal:  # unwrap to the documented exception type
            raise drift_refusal[0] from exc
        raise

    def live() -> DataFrame:
        # null-safe: a stored row whose latest event_type is NULL is not
        # a tombstone — plain != would evaluate NULL and drop it
        return table.read().filter(
            ~F.col("event_type").eqNullSafe(F.lit(delete_type))
        )

    return n_batches, table, live
