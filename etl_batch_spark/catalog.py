"""Catalog: fixed schemas + loaders for the data-plane and control-plane tables.

The reference package is catalog-bound (``%ROWTYPE`` records anchored to
table schemas, pkg_batch_util_spec.sql:20-21); we mirror that style with
explicit ``StructType`` declarations instead of relying on inference.

Data-plane tables are the driver-generated parquet fixtures
(/root/repo/TESTDATA.md).  Control-plane tables are reconstructed from
the reference's column references (SURVEY.md §1.2).
"""

from __future__ import annotations

import glob
import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Data-plane tables (TPC-H-ish star schema + events/documents/embeddings)
# ---------------------------------------------------------------------------

DATA_TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema.

    Passing the explicit schema (rather than inferring) keeps column
    pruning + predicate pushdown well-typed and catches fixture drift.

    ``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) — which
    Spark's vectorized reader refuses — and TIMESTAMP(MICROS), depending
    on fixture generation.  We sniff the footer once per load: the nanos
    variant is read as raw int64 under an explicit ``ts long`` schema
    (no session conf involved) and truncated to microseconds (the same
    conversion the DuckDB oracle applies); the micros variant reads
    natively.
    """
    if name not in DATA_TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(DATA_TABLES)}")
    if name == "events" and _events_ts_is_nanos(sf_dir):
        raw_schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.LongType())
                for f in DATA_TABLES["events"].fields
            ]
        )
        return (
            spark.read.schema(raw_schema)
            .parquet(table_path(sf_dir, name))
            .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        )
    return spark.read.schema(DATA_TABLES[name]).parquet(table_path(sf_dir, name))


@lru_cache(maxsize=16)
def _events_ts_is_nanos(sf_dir: str) -> bool:
    try:
        import pyarrow.parquet as pq

        field = pq.read_schema(table_path(sf_dir, "events")).field("ts")
        return getattr(field.type, "unit", None) == "ns"
    except Exception:
        return False


def fan_out(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Repartition a narrow input so per-row-heavy stages (tokenize,
    shingle, hash, vector folds) use every core.

    No-op when the input already has ≥ the target partitions — the
    cluster/100 TB case, where corpora arrive in thousands of splits.
    The guard matters because single-file fixtures (one parquet row
    group) are unsplittable: without this, every narrow stage downstream
    of the scan runs on one core regardless of cluster size.
    """
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    # probe with inputFiles(), not rdd.getNumPartitions(): the RDD probe
    # forces a full plan->RDD compile (~1 s of driver time per query),
    # while file listing is metadata-only.  Files under-count partitions
    # for multi-row-group files — the worst case is one redundant shuffle
    # on inputs that were already parallel enough, never lost parallelism.
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if n_files < target:
        return df.repartition(target)
    return df


def stage_halves(df: DataFrame, tmp: str) -> tuple[str, str]:
    """Write ``df`` as two single-file parquet halves under ``tmp`` and
    return the two file paths, half 0 first.

    Row ``r`` goes to half ``coalesce(pmod(r.event_id, 2), 0)``.  ``pmod``
    keeps negative ids (``-1 % 2`` is -1, which matches neither half) and
    ``coalesce`` sends NULL ids to half 0, so every row lands in exactly
    one file; an oracle that splits the same rows states the same rule.
    """
    half = F.coalesce(F.pmod(F.col("event_id"), F.lit(2)), F.lit(0))

    def stage(k: int) -> str:
        out = os.path.join(tmp, f"stage{k}")
        df.filter(half == k).coalesce(1).write.mode("overwrite").parquet(out)
        (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
        return part

    return stage(0), stage(1)


def read_landed(table, schema: T.StructType) -> DataFrame:
    """Read back the :class:`~etl_batch_spark.sources.txlog.TxTable` a
    streaming sink landed.  A source that drained no batch leaves the
    table without a commit; that reads as an empty frame of ``schema``.
    """
    if table.latest_version() < 0:
        return table.spark.createDataFrame([], schema)
    return table.read()


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in DATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view (for the SQL API)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


# ---------------------------------------------------------------------------
# Control-plane tables (reconstructed from the reference; SURVEY.md §1.2)
# Oracle DATE carries time-of-day -> TimestampType everywhere.
# ---------------------------------------------------------------------------

CONTROL_TABLES: dict[str, T.StructType] = {
    # one row per registered (module_name, run_level) batch
    # (reference reads: body.sql:133-143, 499, 517)
    "batch_master": T.StructType(
        [
            T.StructField("module_id", T.LongType(), False),
            T.StructField("module_name", T.StringType(), False),
            T.StructField("run_level", T.IntegerType()),
            T.StructField("sub_system", T.StringType()),
            T.StructField("disabled_date", T.TimestampType()),
        ]
    ),
    # one event per run attempt (INSERT list body.sql:194-203; UPDATE 457-461)
    "batch_monitor": T.StructType(
        [
            T.StructField("module_id", T.LongType(), False),
            T.StructField("run_date", T.TimestampType(), False),
            T.StructField("run_id", T.LongType(), False),
            T.StructField("parameters", T.StringType()),
            T.StructField("audit_id", T.StringType()),
            T.StructField("run_status", T.StringType(), False),
            T.StructField("sub_system", T.StringType()),
            T.StructField("exclusive_run_yn", T.StringType()),
            T.StructField("control_date", T.TimestampType()),
            T.StructField("end_time", T.TimestampType()),
            T.StructField("records_processed", T.LongType()),
            T.StructField("records_in_error", T.LongType()),
            # engine-added: monotonically increasing event sequence so the
            # append-only log can reconstruct "latest state" deterministically
            T.StructField("event_seq", T.LongType(), False),
        ]
    ),
    # MANDATORY / OPTIONAL / WAIT gating (body.sql:258-279)
    "batch_dependency": T.StructType(
        [
            T.StructField("child_id", T.LongType(), False),
            T.StructField("parent_module_id", T.LongType(), False),
            T.StructField("dependency_type", T.StringType(), False),
        ]
    ),
    # append-only structured log, 7-day retention (body.sql:926-939)
    "batch_log": T.StructType(
        [
            T.StructField("run_date", T.TimestampType(), False),
            T.StructField("batch_name", T.StringType()),
            T.StructField("package_name", T.StringType()),
            T.StructField("procedure_name", T.StringType()),
            T.StructField("statement_num", T.LongType()),
            T.StructField("message", T.StringType()),
        ]
    ),
    # key/value config store (body.sql:861-875, 917-923)
    "envvar": T.StructType(
        [
            T.StructField("variable_name", T.StringType(), False),
            T.StructField("value", T.StringType()),
            T.StructField("scope", T.StringType()),
            T.StructField("scope_value", T.StringType()),
        ]
    ),
    "tmp_run_batch": T.StructType(
        [
            T.StructField("batch_name", T.StringType(), False),
            T.StructField("run_command", T.StringType()),
        ]
    ),
    # ${DAY} is a literal template token in file_name (body.sql:1174-1197)
    "tmp_run_loader": T.StructType(
        [
            T.StructField("batch_name", T.StringType(), False),
            T.StructField("file_name", T.StringType()),
            T.StructField("file_seq", T.IntegerType()),
        ]
    ),
    "mail_addr_lookup": T.StructType(
        [
            T.StructField("stf_id", T.StringType(), False),
            T.StructField("forename", T.StringType()),
            T.StructField("name", T.StringType()),
        ]
    ),
    "send_mail_audit": T.StructType(
        [
            T.StructField("send_date", T.TimestampType()),
            T.StructField("sender", T.StringType()),
            T.StructField("recipient", T.StringType()),
            T.StructField("copied", T.StringType()),
            T.StructField("blind_copied", T.StringType()),
            T.StructField("subject", T.StringType()),
        ]
    ),
}
