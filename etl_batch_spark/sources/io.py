"""Sources & sinks with 100 TB partitioning discipline.

The reference ingests loader files resolved by name
(func_get_loader_file_name, body.sql:1163-1251) and leaves all IO to
Oracle.  The engine's IO layer makes the scale decisions explicit:

- **explicit schemas** on every read (no inference jobs over 100 TB);
- **date-partitioned writes** (``write_partitioned``) so downstream
  control-date queries prune partitions instead of scanning history;
- **target file sizing** via a pre-write repartition on the partition
  columns (avoids the many-small-files and one-giant-file failure modes);
- loader-file template integration: ``resolve_loader_paths`` turns the
  control table's ``${DAY}`` entries into concrete read paths.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_batch_spark.orchestration.loader import get_loader_file_name
from etl_batch_spark.orchestration.store import ControlStore


@contextlib.contextmanager
def pinned_conf(spark: SparkSession, key: str, value: str):
    """Set a session conf for the duration of a block, then restore the
    caller's value (or unset if it was unset).  Operators whose
    CORRECTNESS depends on a session conf must pin it at the use site —
    the driver contract hands the engine a session it did not build, so
    anything only ``session.py`` sets silently evaporates there (the
    et42 lesson: a stock session writes INT96 timestamps, which carry no
    parquet min/max statistics, and data skipping degrades to
    scan-everything)."""
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def read_parquet(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
    delimiter: str = ",",
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """CSV with explicit schema + corrupt-record capture in PERMISSIVE
    mode — bad rows land in ``_corrupt_record`` instead of failing the
    job (the batch-ETL default; use FAILFAST for strict loads)."""
    if mode == "PERMISSIVE" and "_corrupt_record" not in schema.fieldNames():
        schema = T.StructType([*schema.fields, T.StructField("_corrupt_record", T.StringType())])
    return (
        spark.read.schema(schema)
        .option("header", header)
        .option("delimiter", delimiter)
        .option("mode", mode)
        .csv(path)
    )


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    day_column: str | None = None,
    files_per_partition: int = 1,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Write with date-partition discipline.

    ``day_column`` derives a ``day`` partition column with
    ``date_trunc('day')`` (the engine's control-date convention —
    Oracle-DATE semantics, SURVEY.md §1.3).  The pre-write repartition on
    the partition key bounds output file counts: without it every task
    writes a file into every partition (tasks × partitions small files).
    """
    cols = list(partition_by or [])
    if day_column is not None:
        df = df.withColumn("day", F.date_trunc("day", F.col(day_column)).cast("date"))
        cols.append("day")
    if cols:
        df = df.repartition(files_per_partition, *[F.col(c) for c in cols])
        df.write.partitionBy(*cols).mode(mode).format(fmt).save(path)
    else:
        df.write.mode(mode).format(fmt).save(path)


def resolve_loader_paths(
    store: ControlStore, batch_name: str, run_day: str, *, base_dir: str = ""
) -> list[str]:
    """Concrete input paths for a load batch from the ``tmp_run_loader``
    control table (``'0'`` sentinel → empty list)."""
    joined = get_loader_file_name(store, batch_name, run_day)
    if joined in ("0", "1"):
        return []
    prefix = base_dir.rstrip("/") + "/" if base_dir else ""
    return [prefix + name for name in joined.split(" ")]


# ---------------------------------------------------------------------------
# raw-corpus ingestion (LLM-data pipelines): text / JSONL directories →
# the engine's ``documents`` shape (doc_id, text, source)
# ---------------------------------------------------------------------------

def _doc_id_col() -> "F.Column":
    # content+provenance derived 60-bit id: stable across re-runs and
    # re-partitioning (input_file_name + line content), no driver-side
    # id assignment, no zipWithIndex barrier
    return F.expr(
        "cast(conv(substr(md5(concat(_source_file, '|', text)), 1, 15), 16, 10)"
        " as bigint)"
    )


def read_text_corpus(
    spark: SparkSession, path: str, *, whole_files: bool = False
) -> DataFrame:
    """Directory of ``.txt`` → (doc_id, text, source).

    ``whole_files=False`` (default): one document per line — the layout
    of sharded corpora; splittable, parallel per file-split.
    ``whole_files=True``: one document per file (``wholetext``) — each
    file is one task; only for corpora of many small files.
    Empty/blank lines are dropped.  doc_id is a content+provenance hash:
    deterministic under re-partitioning, unlike monotonically_increasing
    or zipWithIndex schemes.
    """
    return (
        spark.read.text(path, wholetext=whole_files)
        .select(
            F.col("value").alias("text"),
            F.input_file_name().alias("_source_file"),
        )
        .filter(F.trim("text") != "")
        .select(
            _doc_id_col().alias("doc_id"),
            "text",
            F.element_at(F.split("_source_file", "/"), -1).alias("source"),
        )
    )


def read_jsonl_documents(
    spark: SparkSession,
    path: str,
    *,
    text_field: str = "text",
    keep_fields: list[str] | None = None,
) -> DataFrame:
    """JSONL corpus → (doc_id, text, source, <keep_fields...>, _corrupt).

    Schema is explicit (text + requested metadata as strings — no
    inference pass over the corpus); malformed lines land in
    ``_corrupt`` instead of killing the job (PERMISSIVE), so one bad
    shard can't sink a 100 TB backfill."""
    fields = [T.StructField(text_field, T.StringType())]
    for name in keep_fields or []:
        fields.append(T.StructField(name, T.StringType()))
    fields.append(T.StructField("_corrupt", T.StringType()))
    schema = T.StructType(fields)
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
        .withColumn("_source_file", F.input_file_name())
    )
    good = raw.filter(F.col("_corrupt").isNull() & F.col(text_field).isNotNull())
    out = good.select(
        F.col(text_field).alias("text"),
        "_source_file",
        *[F.col(n) for n in (keep_fields or [])],
    )
    return out.select(
        _doc_id_col().alias("doc_id"),
        "text",
        F.element_at(F.split("_source_file", "/"), -1).alias("source"),
        *[F.col(n) for n in (keep_fields or [])],
    )


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """ORC with explicit schema — the other columnar format warehouse
    estates commonly hold (Hive-era tables).  Same pushdown/pruning
    properties as parquet on Spark's native reader."""
    return spark.read.schema(schema).orc(path)


def write_orc(df: DataFrame, path: str, *, max_records_per_file: int = 1_000_000) -> None:
    df.write.mode("overwrite").option(
        "maxRecordsPerFile", max_records_per_file
    ).orc(path)


def read_avro(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Avro (row-oriented interchange).  The spark-avro module is an
    external jar; absent it (as in this container) a clear error beats
    an opaque classpath failure."""
    try:
        return spark.read.schema(schema).format("avro").load(path)
    except Exception as exc:  # pragma: no cover - depends on classpath
        raise NotImplementedError(
            "avro requires the spark-avro package on the classpath "
            "(org.apache.spark:spark-avro); add it via spark.jars.packages"
        ) from exc


def zorder_key(
    df: DataFrame, cols: list[str], *, bits: int = 10, equal_frequency: bool = False
) -> "F.Column":
    """Z-order (Morton) key over numeric columns: each column is mapped
    to a ``bits``-bit bucket id, then the bit strings are interleaved,
    so rows close on EVERY column get close keys.

    Bucketing modes:

    - default (linear): scale by min/max — one 1-row aggregate of
      driver state, monotone and cheap.  A single outlier stretches the
      range and collapses the data mass onto few buckets.
    - ``equal_frequency=True``: bucket by ``approxQuantile`` boundaries
      (2^bits − 1 cut points of bounded driver state) — equal-POPULATION
      buckets, so heavy-hitter regions and outliers cannot starve the
      rest of the keyspace of bits.  Bucket lookup is a codegen'd fold
      over the boundary literals; NULLs bucket to 0.

    Either way the key itself is pure shift/mask arithmetic —
    whole-stage-codegen'd, no UDF.  ``bits * len(cols)`` must fit a
    long (≤ 62).  Keep ``bits`` small (8–10) with ``equal_frequency``:
    boundary-literal count is 2^bits per column.
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if bits * len(cols) > 62:
        raise ValueError(f"bits*cols = {bits * len(cols)} exceeds long range")
    n_buckets = 1 << bits
    if equal_frequency:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = df.stat.approxQuantile(cols, probs, 0.001)
        scaled_cols = []
        for c, bs in zip(cols, bounds):
            cuts = sorted(set(bs))
            arr = "array(" + ",".join(f"cast({b!r} as double)" for b in cuts) + ")"
            q = F.expr(
                f"aggregate({arr}, 0L, (acc, b) -> acc + "
                f"(case when cast({c} as double) >= b then 1L else 0L end))"
            )
            scaled_cols.append(F.coalesce(q, F.lit(0)).cast("long"))
    else:
        stats = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in cols],
            *[F.max(c).alias(f"mx_{c}") for c in cols],
        ).first()
        scaled_cols = []
        for c in cols:
            mn = float(stats[f"mn_{c}"] or 0)
            span = float(stats[f"mx_{c}"] or 0) - mn
            scaled_cols.append(
                F.least(
                    F.lit(n_buckets - 1),
                    F.floor(
                        (F.col(c) - mn) / (span / n_buckets) if span > 0 else F.lit(0)
                    ),
                ).cast("long")
            )
    key = F.lit(0).cast("long")
    for ci, scaled in enumerate(scaled_cols):
        # interleave: bit i of this column lands at position i*len(cols)+ci
        for i in range(bits):
            key = key + F.shiftleft(
                F.shiftrightunsigned(scaled, i).bitwiseAND(F.lit(1)),
                i * len(cols) + ci,
            )
    return key


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 10,
    n_files: int = 8,
    mode: str = "overwrite",
    equal_frequency: bool = False,
) -> None:
    """Write parquet clustered on a z-order curve over ``cols`` (the
    Delta/Iceberg OPTIMIZE ZORDER layout, as a plain write path).

    Range-partition + sort on the interleaved key gives every output
    file a tight min/max envelope on *all* ``cols`` at once, so parquet
    footer stats prune files/row-groups for predicates on any subset of
    them — the data-skipping story for multi-dimension point/range
    lookups at 100 TB, where date partitioning alone can't help the
    second dimension.  Pass ``equal_frequency=True`` for skewed or
    outlier-carrying columns (see :func:`zorder_key`)."""
    z = zorder_key(df, cols, bits=bits, equal_frequency=equal_frequency)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def with_audit_columns(
    df: DataFrame,
    *,
    run_id: int,
    module_name: str,
    load_ts,
    control_date=None,
) -> DataFrame:
    """Stamp data-plane rows with control-plane provenance — the engine
    analogue of the reference writing audit_id/run_id into batch_monitor
    (pkg_batch_util_body.sql:194-203), pushed down onto the data itself
    so any output row joins back to its run.

    ``load_ts`` must be the run's snapshotted timestamp (RunContext
    ``run_date`` — the glo_sysdate discipline, spec.sql:24): stamping
    ``current_timestamp()`` would differ task-to-task and break
    replay comparisons.  All literals — zero runtime cost."""
    out = df.withColumns(
        {
            "_run_id": F.lit(run_id).cast("long"),
            "_module": F.lit(module_name),
            "_load_ts": F.lit(load_ts).cast("timestamp"),
        }
    )
    if control_date is not None:
        out = out.withColumn("_control_date", F.lit(control_date).cast("date"))
    return out


def read_binary_files(
    spark: SparkSession, path: str, *, glob: str | None = None
) -> DataFrame:
    """Whole-file ingest via the built-in ``binaryFile`` source — the
    front door for the multimodal pipeline (llmops/multimodal.py):
    (path, modificationTime, length, content binary) per file, split
    across executors by file.  Pair with
    ``spark.sql.files.maxPartitionBytes`` sizing: binary files never
    split, so parallelism = file count; at 100 TB the petabyte of
    images arrives as millions of objects, which is exactly the layout
    this source wants.  Column pruning is real: selecting only
    ``path``/``length`` (e.g. for an audit) never reads file bodies.
    """
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def read_fixed_width(
    spark: SparkSession,
    path: str,
    colspecs: "list[tuple[str, int, int, str]]",
) -> DataFrame:
    """Fixed-width (mainframe/SAM-file) reader: ``colspecs`` is
    ``[(name, start_1_based, length, dtype), ...]``.  Values are
    substring-sliced JVM-side from the ``text`` source's single column,
    trimmed, then cast — empty fields become NULL, matching how Oracle
    SQL*Loader treats blank fixed-width fields (the reference's loader
    files, pkg_batch_util_body.sql:1163–1251, are fed by exactly such
    extracts).  Narrow plan: no shuffle, splits parallelize by file
    block.
    """
    df = spark.read.text(path)
    cols = []
    for name, start, length, dtype in colspecs:
        raw = F.trim(F.substring(F.col("value"), start, length))
        cols.append(
            F.when(raw == "", None).otherwise(raw).cast(dtype).alias(name)
        )
    return df.select(*cols)


def overwrite_dynamic_partitions(
    df: DataFrame, path: str, *, partition_by: "list[str]"
) -> None:
    """Partition-scoped overwrite via Spark's DYNAMIC partitionOverwriteMode:
    only partitions present in ``df`` are replaced; all others are left
    byte-identical.  Use it when the incoming batch is already the full
    intended content of its partitions (e.g. a day's reload); row-level
    reconciliation belongs to sources/txlog.py::TxTable.merge, which
    rewrites only the files that can hold an update key.  The mode is set on
    the single write (not session-wide) so concurrent writers keep
    STATIC semantics.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def missing_partitions(
    spark: SparkSession, path: str, *, start: str, end: str, day_col: str = "day"
) -> "list[str]":
    """Backfill planner: which ``day=`` partitions are absent from a
    date-partitioned table over [start, end]?  The expected spine comes
    from the calendar DataSource (partition-parallel generation), the
    present set from the table's partition DIRECTORY listing (pure
    metadata — no data files are read), and the answer is their anti
    join.  Feed the result to the scheduler as the work list for
    catch-up runs — the engine-side analogue of the reference's
    loader-file resolution (pkg_batch_util_body.sql:1163–1251).
    """
    from pyspark.sql import functions as F

    from etl_batch_spark.sources.calendar_source import CalendarDataSource

    spark.dataSource.register(CalendarDataSource)
    spine = (
        spark.read.format("calendar")
        .option("start", start)
        .option("end", end)
        .load()
        .select(F.col("day").cast("string").alias("day"))
    )
    # Only a genuinely absent table means "no partitions present" — a
    # transient FS/permission error must PROPAGATE, or the backfill
    # planner would return the whole spine and schedule a full re-load.
    listing = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    fs = listing.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    if fs.exists(listing):
        present = [
            f.getPath().getName().split("=", 1)[1]
            for f in fs.listStatus(listing)
            if f.isDirectory() and f.getPath().getName().startswith(f"{day_col}=")
        ]
    else:
        present = []
    have = spark.createDataFrame(
        [(d,) for d in present] or [(None,)], "day string"
    ).filter(F.col("day").isNotNull())
    missing = spine.join(have, "day", "left_anti").orderBy("day")
    return [r["day"] for r in missing.collect()]


def write_range_sorted(
    df: DataFrame, path: str, *, sort_cols: "list[str]", num_files: int = 8
) -> None:
    """Write globally range-sorted parquet: repartitionByRange splits
    the keyspace into ``num_files`` contiguous slices (sampled range
    boundaries), sortWithinPartitions orders inside each, so file
    min/max footer envelopes on ``sort_cols[0]`` are NON-OVERLAPPING —
    a point/range predicate prunes to one file (vs z-order's
    multi-column but overlapping envelopes; use z-order when queries
    filter several independent columns, range-sort for one dominant
    column).  No global sort on a single task at any scale.
    """
    if not sort_cols:
        raise ValueError("sort_cols must be non-empty")
    # TIMESTAMP_MICROS pinned at the write site: this function's whole
    # promise is usable footer envelopes, and INT96 (the stock-session
    # default) carries no min/max statistics for timestamp columns
    with pinned_conf(
        df.sparkSession,
        "spark.sql.parquet.outputTimestampType",
        "TIMESTAMP_MICROS",
    ):
        (
            df.repartitionByRange(num_files, *sort_cols)
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            .parquet(path)
        )


