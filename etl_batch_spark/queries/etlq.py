"""Warehouse-ETL operator queries: SCD2 dimension merge, column
profiling, referential-integrity checks.

These are the load-side operations the reference's control plane
(`func_batch_startup` → module run → `proc_batch_endup`) exists to
schedule — expressed as oracle-checked DataFrame plans.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_batch_spark.catalog import load_table, stage_halves
from etl_batch_spark.operators.scd import scd2_merge
from etl_batch_spark.queries.registry import query

# DuckDB twin of the portable-HLL 60-bit hash (llmops/dedup.py::H60 on
# the Spark side): both engines hash user_id to the same 60-bit integer,
# so HLL register tables are bit-identical cross-engine.  Shared by the
# et07 (day→week) and et23 (day→month) sketch-rollup oracles.
_DUCK_HLL_H = "(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT)"


# ---------------------------------------------------------------------------
# et01 — SCD2 merge: the customer dimension snapshot (all rows open since
# 1995-01-01) receives a deterministic update batch — every customer
# whose custkey ends in 0 gets a new market segment.  Output is the
# post-merge version set: closed old rows, opened new versions,
# untouched pass-through.  One key-join shuffle drives all branches.
# ---------------------------------------------------------------------------
@query(
    "et01_scd2_merge",
    bench=True,
    oracle="""
    WITH cur AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             DATE '1995-01-01' AS valid_from,
             CAST(NULL AS DATE) AS valid_to,
             TRUE AS is_current
      FROM customer
    ),
    upd AS (
      SELECT c_custkey, 'REASSIGNED' AS c_mktsegment, c_acctbal
      FROM customer WHERE c_custkey % 10 = 0
    ),
    changed AS (
      SELECT cur.c_custkey,
             cur.c_mktsegment AS old_seg, cur.c_acctbal AS old_bal,
             upd.c_mktsegment AS new_seg, upd.c_acctbal AS new_bal
      FROM cur JOIN upd ON cur.c_custkey = upd.c_custkey
      WHERE cur.c_mktsegment IS DISTINCT FROM upd.c_mktsegment
         OR cur.c_acctbal IS DISTINCT FROM upd.c_acctbal
    )
    SELECT c_custkey, c_mktsegment, c_acctbal,
           valid_from, valid_to, is_current
    FROM cur WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c_custkey, old_seg, old_bal,
           DATE '1995-01-01', DATE '1997-06-01', FALSE
    FROM changed
    UNION ALL
    SELECT c_custkey, new_seg, new_bal,
           DATE '1997-06-01', CAST(NULL AS DATE), TRUE
    FROM changed
    """,
)
def et01_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    current = c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    updates = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.lit("REASSIGNED").alias("c_mktsegment"),
        "c_acctbal",
    )
    return scd2_merge(
        current,
        updates,
        key="c_custkey",
        attrs=("c_mktsegment", "c_acctbal"),
        effective_date="1997-06-01",
    )


# ---------------------------------------------------------------------------
# et02 — column profiling (dbt/deequ-style data validation): one pass
# over orders computes null counts, distinct counts and min/max per
# profiled column, unpivoted to (column, metric...) rows.  Single
# aggregate, no per-column scans.
# ---------------------------------------------------------------------------
@query(
    "et02_profile_columns",
    oracle="""
    SELECT 'o_custkey' AS col,
           COUNT(*) - COUNT(o_custkey) AS n_nulls,
           COUNT(DISTINCT o_custkey) AS n_distinct,
           CAST(MIN(o_custkey) AS VARCHAR) AS min_v,
           CAST(MAX(o_custkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           COUNT(*) - COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def et02_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (col, n_nulls, n_distinct, min_v, max_v)"
        )
    )


# ---------------------------------------------------------------------------
# et03 — referential-integrity audit: orphaned fact rows per
# relationship (lineitem→orders, lineitem→part, orders→customer),
# counted in one anti-join each.  Clean fixtures yield zero rows of
# violations but the aggregate row per relationship always reports.
# ---------------------------------------------------------------------------
@query(
    "et03_fk_audit",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           COUNT(*) FILTER (o.o_orderkey IS NULL) AS n_orphans,
           COUNT(*) AS n_rows
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           COUNT(*) FILTER (p.p_partkey IS NULL), COUNT(*)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           COUNT(*) FILTER (c.c_custkey IS NULL), COUNT(*)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def et03_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")

    def audit(fact: DataFrame, fk: str, dim: DataFrame, pk: str, label: str) -> DataFrame:
        return (
            fact.join(dim.select(pk), fact[fk] == dim[pk], "left")
            .agg(
                # count(when), not sum(when): a count of orphans over an
                # empty fact table is 0 (like the oracle's COUNT FILTER),
                # where SUM over zero rows would report NULL
                F.count(F.when(F.col(pk).isNull(), 1)).alias("n_orphans"),
                F.count(F.lit(1)).alias("n_rows"),
            )
            .select(F.lit(label).alias("fk"), "n_orphans", "n_rows")
        )

    return (
        audit(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders")
        .unionByName(audit(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey->part"))
        .unionByName(audit(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer"))
    )


# ---------------------------------------------------------------------------
# et04 — hypertable rollup cascade: daily stats per event_type computed
# by merging hourly partials that were merged from minutely partials —
# raw data is scanned exactly once, and the oracle (a direct day-level
# aggregate) proves partial-merge associativity end-to-end.
# ---------------------------------------------------------------------------
@query(
    "et04_rollup_cascade",
    bench=True,
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value,
           ROUND(MIN(value), 4) AS min_value,
           ROUND(MAX(value), 4) AS max_value,
           ROUND(SUM(value) / COUNT(*) + 1e-9, 4) AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
)
def et04_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.rollup import read_level, rollup_cascade

    e = load_table(spark, sf_dir, "events")
    levels = rollup_cascade(
        e, ts_col="ts", key_cols=("event_type",), value_col="value"
    )
    return read_level(levels["day"])


# ---------------------------------------------------------------------------
# et05 — hierarchy levels (recursive-CTE workload): a deterministic
# forest over custkeys (parent = custkey/10, roots < 10) traversed by
# iterative frontier joins — one shuffle per level, bounded by tree
# height.  The oracle is DuckDB's actual WITH RECURSIVE.
# ---------------------------------------------------------------------------
@query(
    "et05_hierarchy_levels",
    oracle="""
    WITH RECURSIVE nodes AS (
      -- node-SET semantics: duplicate customer rows are the same node,
      -- or every duplicated ancestor multiplies its whole subtree's
      -- counts through the recursion
      SELECT DISTINCT c_custkey FROM customer
    ),
    t AS (
      SELECT c_custkey, 0 AS depth FROM nodes WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey, t.depth + 1
      FROM nodes c JOIN t ON (c.c_custkey // 10) = t.c_custkey
      WHERE c.c_custkey >= 10
    )
    SELECT depth, COUNT(*) AS n_nodes,
           CAST(MIN(c_custkey) AS BIGINT) AS min_node,
           CAST(MAX(c_custkey) AS BIGINT) AS max_node
    FROM t GROUP BY depth
    """,
)
def et05_hierarchy_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.hierarchy import bfs_levels

    # node-SET grain, matching the oracle's DISTINCT nodes CTE
    c = load_table(spark, sf_dir, "customer").select("c_custkey").distinct()
    edges = c.filter(F.col("c_custkey") >= 10).select(
        F.col("c_custkey").alias("child"),
        F.floor(F.col("c_custkey") / 10).cast("long").alias("parent"),
    )
    roots = c.filter(F.col("c_custkey") < 10).select(
        F.col("c_custkey").alias("node")
    )
    lv = bfs_levels(edges, roots)
    return lv.groupBy("depth").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
        F.max("node").cast("long").alias("max_node"),
    )


# ---------------------------------------------------------------------------
# et06 — table checksum for replica reconciliation (pt-table-checksum
# shape): per key-bucket row counts + order-independent XOR of portable
# row hashes.  Two estates run this independently and diff 64 rows
# instead of shipping tables; a mismatched bucket narrows the repair to
# 1/64 of the keyspace (recurse to binary-search rows).  One shuffle on
# the bucket; the hash is md5-derived so any engine can replay it.
# ---------------------------------------------------------------------------
@query(
    "et06_table_checksum",
    oracle="""
    SELECT o_orderkey % 64 AS bucket,
           COUNT(*) AS n_rows,
           BIT_XOR(('0x' || substr(md5(
             CAST(o_orderkey AS VARCHAR) || '|' ||
             CAST(o_custkey AS VARCHAR) || '|' ||
             o_orderstatus || '|' ||
             CAST(ROUND(o_totalprice, 2) AS VARCHAR)
           ), 1, 15))::BIGINT) AS checksum
    FROM orders
    GROUP BY 1
    """,
)
def et06_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.llmops.dedup import H60

    o = load_table(spark, sf_dir, "orders")
    row_repr = (
        "concat(cast(o_orderkey as string), '|', cast(o_custkey as string), '|', "
        "o_orderstatus, '|', cast(round(o_totalprice, 2) as string))"
    )
    return (
        o.select(
            (F.col("o_orderkey") % 64).alias("bucket"),
            F.expr(H60.format(expr=row_repr)).alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# et07 — mergeable-sketch rollup: daily HLL register partials of
# distinct users merged to weekly estimates without ever re-scanning
# raw data — the distinct-count member of the rollup cascade (et04 is
# the numeric one).  Built on the engine-portable HLL
# (operators/sketch.py: deterministic md5-based registers, bit-identical
# on any engine), so the WHOLE rollup — day partials, MAX-merge upward,
# estimator — is exactly oracle-checkable; the DuckDB twin computes the
# same registers at week level directly, and MAX-merge associativity is
# what parity proves.  At 100 TB this replaces a re-scan of the raw log for
# every wider window with a MAX-merge over (buckets × 256)-row register
# tables.
# ---------------------------------------------------------------------------
@query(
    "et07_sketch_rollup",
    doc="mergeable HLL rollup: daily user register partials merged to weekly "
    "distinct estimates (operators.sketch portable HLL; day→week MAX-merge "
    "never touches raw data again)",
    oracle=f"""
    WITH h AS (
      SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS bucket,
             {_DUCK_HLL_H} AS h
      FROM events WHERE user_id IS NOT NULL
    ),
    r AS (
      SELECT bucket, h % 256 AS idx,
             CASE WHEN h // 256 = 0 THEN 53
                  ELSE 53 - length(bin(h // 256)) END AS rho
      FROM h
    ),
    regs AS (SELECT bucket, idx, MAX(rho) AS max_rho FROM r GROUP BY 1, 2),
    agg AS (
      SELECT bucket, COUNT(*) AS n_present,
             SUM(pow(2.0, -max_rho)) AS s_present
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT bucket,
             (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
               / ((256 - n_present) * 1.0 + s_present) AS e_raw,
             256 - n_present AS v
      FROM agg
    )
    SELECT bucket,
           CASE WHEN e_raw <= 640.0 AND v > 0
                THEN ROUND(256.0 * ln(256.0 / v), 2)
                ELSE ROUND(e_raw, 2) END AS est_distinct,
           CASE WHEN e_raw <= 640.0 AND v > 0 THEN 'linear' ELSE 'raw' END
             AS est_branch
    FROM est
    """,
)
def et07_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.sketch import hll_estimate, hll_merge, hll_partials

    e = load_table(spark, sf_dir, "events")
    day = hll_partials(e, key_col="user_id", bucket=F.date_trunc("DAY", F.col("ts")))
    week = hll_merge(day, F.date_trunc("WEEK", F.col("bucket")))
    return hll_estimate(week)


# ---------------------------------------------------------------------------
# et08 — snapshot diff (CDC derivation): classify every key across two
# dimension snapshots as inserted / deleted / updated / unchanged via
# one full-outer key join — the change feed an incremental downstream
# consumes when the source can't emit CDC itself.  Synthetic snapshots
# derive deterministically from customer (mod-13 membership, mod-7
# value drift).
# ---------------------------------------------------------------------------
@query(
    "et08_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 13 <> 5
    ),
    new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN ROUND(c_acctbal + 10, 2)
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 13 <> 0
    )
    SELECT CASE WHEN o.c_custkey IS NULL THEN 'I'
                WHEN n.c_custkey IS NULL THEN 'D'
                WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'U'
                ELSE '=' END AS op,
           COUNT(*) AS n_rows
    FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
    GROUP BY 1
    """,
)
def et08_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    old = c.filter(F.col("c_custkey") % 13 != 5).select(
        F.col("c_custkey").alias("o_key"), F.col("c_acctbal").alias("o_val")
    )
    new = c.filter(F.col("c_custkey") % 13 != 0).select(
        F.col("c_custkey").alias("n_key"),
        F.when(
            F.col("c_custkey") % 7 == 0, F.round(F.col("c_acctbal") + 10, 2)
        )
        .otherwise(F.col("c_acctbal"))
        .alias("n_val"),
    )
    op = (
        F.when(F.col("o_key").isNull(), "I")
        .when(F.col("n_key").isNull(), "D")
        .when(~F.col("o_val").eqNullSafe(F.col("n_val")), "U")
        .otherwise("=")
    )
    return (
        old.join(new, old.o_key == new.n_key, "full_outer")
        .groupBy(op.alias("op"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


# ---------------------------------------------------------------------------
# et09 — declarative data-quality expectation suite over orders
# (operators/expectations.py): five rules, ONE scan — row-local rules are
# conditional sums, uniqueness is COUNT - COUNT(DISTINCT) in the same
# aggregate (single Expand), the wide row unpivots via stack.
# ---------------------------------------------------------------------------
@query(
    "et09_expectations",
    doc="data-quality rule engine: (rule, violations) in one pass "
    "(operators.expectations.evaluate)",
    oracle="""
    SELECT 'not_null(o_custkey)' AS rule,
           COUNT(*) FILTER (WHERE o_custkey IS NULL) AS violations FROM orders
    UNION ALL
    SELECT 'in_range(o_totalprice)',
           COUNT(*) FILTER (WHERE o_totalprice IS NOT NULL
                            AND (o_totalprice < 0 OR o_totalprice > 1000000))
    FROM orders
    UNION ALL
    SELECT 'in_set(o_orderstatus)',
           COUNT(*) FILTER (WHERE o_orderstatus IS NOT NULL
                            AND o_orderstatus NOT IN ('O', 'F', 'P'))
    FROM orders
    UNION ALL
    SELECT 'matches(o_orderpriority)',
           COUNT(*) FILTER (WHERE o_orderpriority IS NOT NULL
                            AND NOT regexp_matches(o_orderpriority, '^[1-5]-'))
    FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) FROM orders
    """,
)
def et09_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators import expectations as X

    o = load_table(spark, sf_dir, "orders")
    rules = [
        X.not_null("o_custkey"),
        X.in_range("o_totalprice", lo=0, hi=1_000_000),
        X.in_set("o_orderstatus", ["O", "F", "P"]),
        X.matches("o_orderpriority", "^[1-5]-"),
    ]
    return X.evaluate(o, rules, unique=["o_orderkey"])


# ---------------------------------------------------------------------------
# et10 — apply a CDC changelog to a snapshot (operators/cdc.py): the
# customer table upserted with each customer's order stream (orderkey as
# the sequence number) and deleted where custkey % 50 == 3.  One shuffle
# on the key; latest-wins window folds upserts and deletes in one pass.
# ---------------------------------------------------------------------------
@query(
    "et10_apply_changelog",
    doc="CDC apply: latest-wins upsert + delete fold (operators.cdc.apply_changelog)",
    oracle="""
    WITH changes AS (
        SELECT o_custkey AS c_custkey, o_totalprice AS c_acctbal,
               'UPDATED' AS c_mktsegment, o_orderkey AS seq,
               CASE WHEN o_custkey % 50 = 3 AND o_orderkey =
                         MAX(o_orderkey) OVER (PARTITION BY o_custkey)
                    THEN 'D' ELSE 'U' END AS op
        FROM orders
    ),
    unioned AS (
        SELECT c_custkey, c_acctbal, c_mktsegment,
               CAST(NULL AS BIGINT) AS seq, 'U' AS op
        FROM customer
        UNION ALL
        SELECT * FROM changes
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY c_custkey
                                     ORDER BY seq DESC NULLS LAST) AS rn
        FROM unioned
    )
    SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal, c_mktsegment AS segment
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def et10_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.cdc import apply_changelog

    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal", "c_mktsegment")
    o = load_table(spark, sf_dir, "orders")
    last_per_cust = F.max("o_orderkey").over(W.partitionBy("o_custkey"))
    changes = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_totalprice").alias("c_acctbal"),
        F.lit("UPDATED").alias("c_mktsegment"),
        F.col("o_orderkey").alias("seq"),
        F.when(
            (F.col("o_custkey") % 50 == 3) & (F.col("o_orderkey") == last_per_cust), "D"
        ).otherwise("U").alias("op"),
    )
    final = apply_changelog(c, changes, keys=["c_custkey"], seq_col="seq", op_col="op")
    return final.select(
        "c_custkey",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )


# ---------------------------------------------------------------------------
# et11 — entity resolution via blocked fuzzy join (operators/fuzzy.py):
# the distinct part-name dictionary matched against a typo'd variant of
# itself (one md5-positioned char deleted) — blocking on (first token,
# length band) keeps it a hash join; levenshtein verifies candidates.
# ---------------------------------------------------------------------------
@query(
    "et11_fuzzy_match",
    doc="blocked fuzzy join entity resolution (operators.fuzzy.blocked_fuzzy_join)",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    dirty AS (
        SELECT substr(p_name, 1, pos - 1) || substr(p_name, pos + 1) AS dirty_name
        FROM (SELECT p_name,
                     CAST((('0x' || substr(md5('typo|' || p_name), 1, 15))::BIGINT
                           % (len(p_name) - 1)) + 2 AS INTEGER) AS pos
              FROM names)
    ),
    blocked AS (
        SELECT n.p_name AS clean_name, d.dirty_name,
               levenshtein(n.p_name, d.dirty_name) AS distance
        FROM names n JOIN dirty d
          ON string_split_regex(lower(trim(n.p_name)), '[\\s\\x0B]+')[1] =
             string_split_regex(lower(trim(d.dirty_name)), '[\\s\\x0B]+')[1]
         AND CAST(floor(len(n.p_name) / 8) AS BIGINT) =
             CAST(floor(len(d.dirty_name) / 8) AS BIGINT)
    )
    SELECT clean_name, dirty_name, CAST(distance AS INT) AS distance
    FROM blocked WHERE distance <= 2
    """,
)
def et11_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.fuzzy import blocked_fuzzy_join

    names = load_table(spark, sf_dir, "part").select(
        F.col("p_name").alias("clean_name")
    ).distinct()
    pos = F.expr(
        "cast((cast(conv(substr(md5(concat('typo|', clean_name)), 1, 15), 16, 10) as bigint)"
        " % (length(clean_name) - 1)) + 2 as int)"
    )
    dirty = (
        names.withColumn("__pos", pos)
        .select(
            F.concat(
                F.expr("substr(clean_name, 1, __pos - 1)"),
                F.expr("substr(clean_name, __pos + 1)"),
            ).alias("dirty_name")
        )
    )
    matched = blocked_fuzzy_join(
        names, dirty, left_text="clean_name", right_text="dirty_name", max_distance=2
    )
    return matched.select("clean_name", "dirty_name", F.col("distance").cast("int").alias("distance"))


# ---------------------------------------------------------------------------
# et12 — FIFO allocation (inventory-flow reconciliation): per part, the
# demand queue (order lines in o_orderdate order) is matched against the
# supply queue (the same lines in l_shipdate order) by intersecting
# cumulative-quantity ranges — the set-based form of the sequential
# "pop the queue" loop.  Two windows + one equi-join on l_partkey: the
# per-part running sums are one shuffle each, the pair join hashes on
# the part key, and the overlap predicate trims to the ~linear number
# of truly intersecting (demand, supply) pairs.  No per-key iteration,
# no driver state — the shape survives a 100 TB fact table because
# every step partitions by l_partkey.
# ---------------------------------------------------------------------------
@query(
    "et12_fifo_allocation",
    bench=True,
    doc="FIFO demand/supply matching via cumulative-range intersection",
    oracle="""
    WITH dlines AS (
        -- (orderkey, linenumber) is not unique in the fixture: collapse
        -- duplicates so queue ids are unique and the window order total.
        -- NULL-quantity lines are unallocatable (an all-NULL group would
        -- put a NULL dq into the cumulative sum) — excluded on both sides
        SELECT l.l_partkey, l.l_orderkey AS d_orderkey,
               l.l_linenumber AS d_linenumber,
               MIN(o.o_orderdate) AS d_date, SUM(l.l_quantity) AS dq
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_partkey % 50 = 0 AND l.l_quantity IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    demand AS (
        SELECT *, SUM(dq) OVER (
                   PARTITION BY l_partkey
                   ORDER BY d_date, d_orderkey, d_linenumber
                   ROWS UNBOUNDED PRECEDING) AS dhi
        FROM dlines
    ),
    slines AS (
        -- a supply event needs both a date and a quantity (see dlines)
        SELECT l_partkey AS s_partkey, l_orderkey AS s_orderkey,
               l_linenumber AS s_linenumber,
               MIN(l_shipdate) AS s_date, SUM(l_quantity) AS sq
        FROM lineitem
        WHERE l_partkey % 50 = 0
          AND l_quantity IS NOT NULL AND l_shipdate IS NOT NULL
        GROUP BY 1, 2, 3
    ),
    supply AS (
        SELECT *, SUM(sq) OVER (
                   PARTITION BY s_partkey
                   ORDER BY s_date, s_orderkey, s_linenumber
                   ROWS UNBOUNDED PRECEDING) AS shi
        FROM slines
    )
    SELECT d.l_partkey AS partkey, d.d_orderkey, d.d_linenumber,
           s.s_orderkey, s.s_linenumber,
           ROUND(LEAST(d.dhi, s.shi) - GREATEST(d.dhi - d.dq, s.shi - s.sq), 2)
             AS allocated
    FROM demand d
    JOIN supply s
      ON d.l_partkey = s.s_partkey
     AND d.dhi - d.dq < s.shi
     AND s.shi - s.sq < d.dhi
    """,
)
def et12_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") % 50 == 0)
    o = load_table(spark, sf_dir, "orders")
    wd = (
        W.partitionBy("l_partkey")
        .orderBy("d_date", "d_orderkey", "d_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # NULL-quantity / NULL-date lines are unallocatable — see the oracle
    demand = (
        li.filter(F.col("l_quantity").isNotNull())
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_partkey",
            F.col("l_orderkey").alias("d_orderkey"),
            F.col("l_linenumber").alias("d_linenumber"),
        )
        .agg(F.min("o_orderdate").alias("d_date"), F.sum("l_quantity").alias("dq"))
        .withColumn("dhi", F.sum("dq").over(wd))
    )
    ws = (
        W.partitionBy("s_partkey")
        .orderBy("s_date", "s_orderkey", "s_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    supply = (
        li.filter(F.col("l_quantity").isNotNull() & F.col("l_shipdate").isNotNull())
        .groupBy(
            F.col("l_partkey").alias("s_partkey"),
            F.col("l_orderkey").alias("s_orderkey"),
            F.col("l_linenumber").alias("s_linenumber"),
        )
        .agg(F.min("l_shipdate").alias("s_date"), F.sum("l_quantity").alias("sq"))
        .withColumn("shi", F.sum("sq").over(ws))
    )
    joined = demand.join(
        supply,
        (demand.l_partkey == supply.s_partkey)
        & (demand.dhi - demand.dq < supply.shi)
        & (supply.shi - supply.sq < demand.dhi),
    )
    return joined.select(
        F.col("l_partkey").alias("partkey"),
        "d_orderkey",
        "d_linenumber",
        "s_orderkey",
        "s_linenumber",
        F.round(
            F.least("dhi", "shi") - F.greatest(F.col("dhi") - F.col("dq"), F.col("shi") - F.col("sq")),
            2,
        ).alias("allocated"),
    )


# ---------------------------------------------------------------------------
# et13 — incremental aggregate maintenance: the nightly pattern where a
# materialized daily aggregate absorbs a late-arriving delta WITHOUT
# rescanning history.  Base (shipped before the cutoff) and delta are
# each reduced to mergeable partials (count, sum); merging is a re-agg
# of partials — SUM/COUNT are algebraic, so partial states combine
# exactly.  At 100 TB the base partials are ~days×keys rows (millions,
# not billions): the daily refresh touches the delta partition plus a
# tiny partial table.  The oracle recomputes from scratch — hash
# equality IS the incremental-consistency proof.
# ---------------------------------------------------------------------------
@query(
    "et13_incremental_agg",
    doc="partial-aggregate merge (base + delta == full recompute)",
    oracle="""
    SELECT CAST(l_shipdate AS DATE) AS ship_day,
           l_returnflag,
           COUNT(*) AS n_lines,
           ROUND(SUM(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def et13_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1996-01-01").cast("timestamp")

    def partials(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.to_date("l_shipdate").alias("ship_day"), "l_returnflag"
        ).agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").alias("qty_sum"),
        )

    # the split must be EXHAUSTIVE: a bare `< cutoff` / `>= cutoff` pair
    # silently drops NULL-shipdate rows from BOTH partials (NULL compares
    # to neither side), so base+delta would no longer equal the full
    # recompute — unknown-date rows ride with the base state
    base = partials(
        li.filter((F.col("l_shipdate") < cutoff) | F.col("l_shipdate").isNull())
    )  # yesterday's state
    delta = partials(li.filter(F.col("l_shipdate") >= cutoff))   # today's arrivals
    return (
        base.unionByName(delta)
        .groupBy("ship_day", "l_returnflag")
        .agg(
            F.sum("n_lines").alias("n_lines"),
            F.round(F.sum("qty_sum"), 2).alias("qty"),
        )
    )


# ---------------------------------------------------------------------------
# et14 — robust outlier flagging per source (operators/outliers.py):
# grouped-map applyInPandas computes exact median/MAD per group — the
# robust stats pair that shrugs off the corrupt giants that drag a
# mean/stddev.  One shuffle on source; per-task state is one group.
# ---------------------------------------------------------------------------
@query(
    "et14_mad_outliers",
    doc="grouped median/MAD outliers (operators.outliers.grouped_mad_outliers)",
    oracle="""
    WITH stats AS (
        SELECT source, median(n_chars) AS m, mad(n_chars) AS d
        FROM documents GROUP BY source
    )
    SELECT doc_id, documents.source, n_chars,
           ROUND(stats.m, 4) AS group_median, ROUND(stats.d, 4) AS group_mad
    -- null-safe: a NULL source is a legitimate GROUP BY group on both
    -- engines; a plain equi-join back to it would silently drop it
    FROM documents JOIN stats ON documents.source IS NOT DISTINCT FROM stats.source
    WHERE stats.d > 0 AND abs(n_chars - stats.m) > 3 * stats.d
    """,
)
def et14_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.outliers import grouped_mad_outliers

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = grouped_mad_outliers(docs, group_col="source", value_col="n_chars", k=3.0)
    return out.select(
        "doc_id",
        "source",
        "n_chars",
        F.round("group_median", 4).alias("group_median"),
        F.round("group_mad", 4).alias("group_mad"),
    )


# ---------------------------------------------------------------------------
# et15 — triangle counting (graph clustering signal) over the part
# co-purchase graph: parts are connected when some order contains both.
# Edge build is one self-join on l_orderkey; the count uses the ordered
# wedge join in operators/graph.py::triangle_count, which bounds wedge
# fan-out by the smaller endpoint degree (the standard power-law-hub
# mitigation).  Oracle replays the same ordered 3-way join in DuckDB.
# ---------------------------------------------------------------------------
@query(
    "et15_triangle_count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
             GREATEST(a.l_partkey, b.l_partkey) AS v
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
    )
    SELECT (SELECT COUNT(*) FROM (SELECT u AS n FROM e UNION SELECT v FROM e))
             AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*)
            FROM e e1 JOIN e e2 ON e1.v = e2.u
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
             AS n_triangles
    """,
)
def et15_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.graph import triangle_count

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("pb"))
    edges = a.join(b, "k").filter(F.col("pa") < F.col("pb")).select("pa", "pb")
    return triangle_count(edges, a="pa", b="pb")


# ---------------------------------------------------------------------------
# et16 — LTTB downsampling: each user's gauge history reduced to 12
# shape-preserving points (Steinarsson 2013).  The pick is sequential
# within a series (each choice depends on the previous), so it is not a
# window expression — but it IS a per-bucket recursion, and the oracle
# replays it exactly: 0-indexed rows per series, precomputed next-bucket
# averages per step, then a recursive CTE whose step picks the bucket
# row maximizing the triangle area against the previous pick via a
# LATERAL ORDER BY/LIMIT 1 (numpy argmax = first max → ties break on
# smaller index).  x is epoch-ns as DOUBLE on both sides (pandas
# datetime64[ns].astype(int64) ≡ epoch_ns(CAST(ts AS TIMESTAMP)); the
# inner CAST pins micros precision if fixtures ever ship TIMESTAMP_NS).
# ---------------------------------------------------------------------------
@query(
    "et16_lttb_downsample",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, value,
             CAST(epoch_ns(CAST(ts AS TIMESTAMP)) AS DOUBLE) AS x,
             CAST(value AS DOUBLE) AS y,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, value) - 1 AS i,
             COUNT(*) OVER (PARTITION BY user_id) AS m
      -- NULL-valued or NULL-ts points are outside the series
      -- (lttb_downsample drops them: no shape information, NaN-poisoned
      -- triangle areas / undefined x-axis position)
      FROM events
      WHERE user_id % 10 = 3 AND value IS NOT NULL AND ts IS NOT NULL
    ),
    params AS (
      SELECT user_id, MAX(m) AS m, (MAX(m) - 2) / CAST(10 AS DOUBLE) AS every
      FROM base WHERE m > 12 GROUP BY user_id
    ),
    lastpt AS (
      SELECT user_id, x AS lx, y AS ly FROM base WHERE i = m - 1
    ),
    nb AS (  -- avg of the NEXT bucket per step; empty next -> last point
      SELECT st.user_id, st.s, st.every,
             COALESCE(AVG(b.x), ANY_VALUE(l.lx)) AS ax,
             COALESCE(AVG(b.y), ANY_VALUE(l.ly)) AS ay
      FROM (SELECT p.user_id, p.m, p.every, UNNEST(range(10)) AS s FROM params p) st
      JOIN lastpt l ON l.user_id = st.user_id
      LEFT JOIN base b
        ON b.user_id = st.user_id
       AND b.i >= CAST(FLOOR((st.s + 1) * st.every) AS BIGINT) + 1
       AND b.i <  LEAST(CAST(FLOOR((st.s + 2) * st.every) AS BIGINT) + 1, st.m)
      GROUP BY st.user_id, st.s, st.every
    ),
    rec AS (
      SELECT b.user_id, 0 AS step, b.x AS ax_, b.y AS ay_, b.ts, b.value
      FROM base b WHERE b.i = 0 AND b.m > 12
      UNION ALL
      SELECT r.user_id, r.step + 1, t.x, t.y, t.ts, t.value
      FROM rec r
      JOIN nb n ON n.user_id = r.user_id AND n.s = r.step,
      LATERAL (
        SELECT b.x, b.y, b.ts, b.value
        FROM base b
        WHERE b.user_id = r.user_id
          AND b.i >= CAST(FLOOR(r.step * n.every) AS BIGINT) + 1
          AND b.i <  CAST(FLOOR((r.step + 1) * n.every) AS BIGINT) + 1
        ORDER BY ABS((r.ax_ - n.ax) * (b.y - r.ay_)
                     - (r.ax_ - b.x) * (n.ay - r.ay_)) DESC,
                 b.i ASC
        LIMIT 1
      ) t
      WHERE r.step < 10
    )
    SELECT user_id, ts, ROUND(value, 4) AS value
    FROM base WHERE m <= 12           -- short series pass through whole
    UNION ALL
    SELECT user_id, ts, ROUND(value, 4) AS value FROM rec
    UNION ALL
    SELECT user_id, ts, ROUND(value, 4) AS value
    FROM base WHERE i = m - 1 AND m > 12   -- last point always kept
    """,
    doc="per-user LTTB shape-preserving downsample to 12 points",
)
def et16_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.downsample import lttb_downsample

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 3)
    out = lttb_downsample(e, key_col="user_id", ts_col="ts", value_col="value", n_out=12)
    return out.select("user_id", "ts", F.round("value", 4).alias("value"))


# ---------------------------------------------------------------------------
# et17 — partition-skew profiler: the diagnostic an engine at 100 TB
# runs BEFORE picking a join strategy.  Per-key counts of
# lineitem.l_suppkey reduced to one row: key cardinality, max key
# share, exact count percentiles, top-5 hot keys.  The hot-key list is
# a TakeOrdered limit-5 broadcast back onto the one-row summary —
# never a collect_list over the keyspace.  Feeds joins.salted_join's
# salt-factor choice.
# ---------------------------------------------------------------------------
@query(
    "et17_skew_profile",
    oracle="""
    WITH c AS (
      SELECT l_suppkey AS key, COUNT(*) AS cnt FROM lineitem GROUP BY 1
    ),
    summary AS (
      SELECT COUNT(*) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS total_rows,
             MAX(cnt) AS max_count,
             ROUND(MAX(cnt) / SUM(cnt), 6) AS max_share,
             ROUND(quantile_cont(cnt, 0.5), 2) AS p50_count,
             ROUND(quantile_cont(cnt, 0.9), 2) AS p90_count,
             ROUND(quantile_cont(cnt, 0.99), 2) AS p99_count
      FROM c
    ),
    hot AS (
      -- string, not LIST: the external driver canonicalizes via pandas,
      -- which cannot hash list cells (CORRECTNESS_r01 TypeError)
      SELECT string_agg(CAST(key AS VARCHAR), ',' ORDER BY cnt DESC, key ASC) AS top_keys
      FROM (SELECT key, cnt FROM c ORDER BY cnt DESC, key ASC LIMIT 5)
    )
    SELECT * FROM summary CROSS JOIN hot
    """,
)
def et17_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    summary = c.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.max("cnt").alias("max_count"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("max_share"),
        F.round(F.expr("percentile(cnt, 0.5)"), 2).alias("p50_count"),
        F.round(F.expr("percentile(cnt, 0.9)"), 2).alias("p90_count"),
        F.round(F.expr("percentile(cnt, 0.99)"), 2).alias("p99_count"),
    )
    hot = (
        c.orderBy(F.desc("cnt"), F.asc("key"))
        .limit(5)
        .agg(
            # nullif(. , ''): string_agg over zero keys is NULL in SQL,
            # where array_join over an empty collect_list gives '' —
            # keys are bigints, so '' can never be a legitimate value
            F.nullif(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct((-F.col("cnt")).alias("neg"), "key"))
                        ),
                        lambda s: s.key.cast("string"),
                    ),
                    ",",
                ),
                F.lit(""),
            ).alias("top_keys")
        )
    )
    return summary.crossJoin(F.broadcast(hot))


# ---------------------------------------------------------------------------
# et18 — sequence-gap audit: find missing runs in what should be a
# dense id sequence (orders.o_orderkey) — the load-completeness check
# run after every ingest against a source that hands out contiguous
# ids.  A bare lead() over the whole table would be ONE task (global
# window); instead lead() runs inside coarse key buckets (one shuffle,
# parallel) and the handful of bucket-boundary pairs are closed with a
# lead() over the per-bucket min/max aggregate — thousands of rows,
# not billions.  Each gap reports as (gap_start, gap_end, n_missing).
# ---------------------------------------------------------------------------
_GAP_BUCKET = 1 << 12
@query(
    "et18_sequence_gaps",
    oracle="""
    WITH k AS (
      SELECT o_orderkey AS key,
             LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS next_key
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT key + 1 AS gap_start,
           next_key - 1 AS gap_end,
           next_key - key - 1 AS n_missing
    FROM k
    WHERE next_key - key > 1
    """,
)
def et18_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    keys = o.select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_orderkey") / _GAP_BUCKET).cast("bigint").alias("bucket"),
    )
    # gaps strictly inside a bucket: parallel window per bucket
    wb = W.partitionBy("bucket").orderBy("key")
    inner = keys.withColumn("next_key", F.lead("key").over(wb)).filter(
        F.col("next_key") - F.col("key") > 1
    )
    # gaps across bucket boundaries: window over the per-bucket extrema
    # (one row per non-empty bucket — tiny at any scale)
    extrema = keys.groupBy("bucket").agg(
        F.min("key").alias("lo"), F.max("key").alias("hi")
    )
    wx = W.orderBy("bucket")
    boundary = extrema.withColumn("next_lo", F.lead("lo").over(wx)).filter(
        F.col("next_lo") - F.col("hi") > 1
    )
    gaps = inner.select(F.col("key").alias("k"), F.col("next_key").alias("nk")).unionAll(
        boundary.select(F.col("hi").alias("k"), F.col("next_lo").alias("nk"))
    )
    return gaps.select(
        (F.col("k") + 1).alias("gap_start"),
        (F.col("nk") - 1).alias("gap_end"),
        (F.col("nk") - F.col("k") - 1).alias("n_missing"),
    )


# ---------------------------------------------------------------------------
# et19 — Benford first-digit audit: the forensic data-quality check for
# "organic" monetary amounts.  Observed first-digit shares of
# o_totalprice vs Benford's log10(1 + 1/d) expectation plus the
# chi-square statistic — flags synthetic/fabricated feeds.  One
# map-side-combined aggregate on a 9-value key; the chi-square rides a
# broadcast of the 9-row digit table onto one row.
# ---------------------------------------------------------------------------
@query(
    "et19_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY digit
    ),
    t AS (SELECT CAST(SUM(n) AS DOUBLE) AS total FROM c)
    SELECT digit, n,
           ROUND(n / t.total, 6) AS observed,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS expected,
           ROUND(POW(n / t.total - log10(1.0 + 1.0 / digit), 2)
                 / log10(1.0 + 1.0 / digit), 8) AS chi2_term
    FROM c CROSS JOIN t
    """,
)
def et19_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    c = (
        o.filter(F.col("o_totalprice") >= 1)
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").cast("double").alias("total"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    observed = F.col("n") / F.col("total")
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(observed, 6).alias("observed"),
        F.round(expected, 6).alias("expected"),
        F.round(F.pow(observed - expected, 2) / expected, 8).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# et20 — point-in-time (time-travel) join: facts joined to the
# dimension version that was valid WHEN the fact happened — the
# correctness cornerstone of SCD2 warehousing (joining to the current
# version back-dates attribute changes).  Orders hit the et01-style
# customer version history on custkey with the validity-interval
# residual; the revenue split by segment proves pre-/post-change orders
# land on different versions.  Plan: one equi-join shuffle on custkey
# with the interval predicate as a residual filter — never an
# inequality-only join.
# ---------------------------------------------------------------------------
@query(
    "et20_point_in_time_join",
    oracle="""
    WITH versions AS (
      SELECT c_custkey, c_mktsegment,
             DATE '1995-01-01' AS valid_from, DATE '1997-06-01' AS valid_to
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, 'REASSIGNED', DATE '1997-06-01', NULL
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment, DATE '1995-01-01', NULL
      FROM customer WHERE c_custkey % 10 <> 0
    )
    SELECT v.c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN versions v
      ON o.o_custkey = v.c_custkey
     AND o.o_orderdate >= v.valid_from
     AND (v.valid_to IS NULL OR o.o_orderdate < v.valid_to)
    GROUP BY v.c_mktsegment
    """,
)
def et20_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    changed = F.col("c_custkey") % 10 == 0
    v_old = c.filter(changed).select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit("1997-06-01").cast("date").alias("valid_to"),
    )
    v_new = c.filter(changed).select(
        "c_custkey",
        F.lit("REASSIGNED").alias("c_mktsegment"),
        F.lit("1997-06-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    v_same = c.filter(~changed).select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    versions = v_old.unionByName(v_new).unionByName(v_same)
    o = load_table(spark, sf_dir, "orders")
    cond = (
        (o.o_custkey == versions.c_custkey)
        & (o.o_orderdate >= versions.valid_from)
        & (versions.valid_to.isNull() | (o.o_orderdate < versions.valid_to))
    )
    return (
        o.join(versions, cond)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# et21 — EXACT distinct counting via mergeable bitmaps (the
# ClickHouse/Roaring pattern): user ids pack into 64-bit words
# (bit = pmod(id, 63), bucket = (id − bit)/63 — 63 bits per word,
# because a signed-BIGINT engine like DuckDB overflows on 1 << 63;
# the pmod/floor form keeps the packing a bijection for negative ids
# too); per (day, bucket) the words
# BIT_OR together — an associative, mergeable partial like et04's
# sums — and popcounts roll up to exact daily uniques.  Contrast with
# et07's HLL (approximate, fixed-size): bitmaps are exact with state
# ∝ id-space/8 bytes, the right trade when ids are dense integers.
# The query proves bitmap == COUNT(DISTINCT) on both engines.
# ---------------------------------------------------------------------------
@query(
    "et21_bitmap_distinct",
    oracle="""
    WITH words AS (
      -- bit = non-negative mod, bucket = (id - bit) // 63: the
      -- subtraction makes the division exact, so DuckDB's TRUNCATING
      -- integer `//` equals floor and the packing is total over ALL
      -- bigints (DuckDB % keeps the dividend's sign; a negative shift
      -- is an error here and silent garbage in Java)
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             (user_id - (((user_id % 63) + 63) % 63)) // 63 AS bucket,
             BIT_OR(1::BIGINT << CAST(((user_id % 63) + 63) % 63 AS INT)) AS word
      FROM events GROUP BY 1, 2
    ),
    bitmap AS (
      SELECT day, CAST(SUM(bit_count(word)) AS BIGINT) AS n_bitmap
      FROM words GROUP BY day
    ),
    exact AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             COUNT(DISTINCT user_id) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT b.day, b.n_bitmap, e.n_exact
    FROM bitmap b JOIN exact e USING (day)
    """,
)
def et21_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").alias("day")
    # bit = pmod(id, 63) ∈ [0, 62] and bucket = (id − bit) div 63 (an
    # exact division, so truncation == floor): the packing is total
    # over all bigints EXCEPT the 62 values adjacent to Long.MIN_VALUE
    # (there `id − bit` underflows: Spark wraps silently, DuckDB
    # errors).  Spark's `%`/`div` keep the dividend's sign, and
    # shiftleft by a negative count is silent garbage in Java
    # (caught by the i91 negative-id corpus, round 5)
    words = e.groupBy(
        day, F.expr("(user_id - pmod(user_id, 63)) div 63").alias("bucket")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(1L, CAST(pmod(user_id, 63) AS INT))")
        ).alias("word")
    )
    bitmap = words.groupBy("day").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n_bitmap")
    )
    exact = e.groupBy(day).agg(F.countDistinct("user_id").alias("n_exact"))
    return bitmap.join(exact, "day")


# ---------------------------------------------------------------------------
# et22 — EWMA smoothing: per-user exponentially-weighted value series.
# The recursion s_t = a*x_t + (1-a)*s_{t-1} is order-dependent — not a
# window expression — but IS a per-series recursive CTE, so the oracle
# replays it exactly: row_number each series, recurse rn -> rn+1.
# Float-bit discipline: the oracle writes (1.0 - 0.3), not 0.7 — DuckDB
# folds the subtraction in IEEE doubles to the same constant numpy's
# `1.0 - alpha` produces, whereas the literal 0.7 is a DIFFERENT double
# and would drift the 6th decimal over long series.
# ---------------------------------------------------------------------------
@query(
    "et22_ewma_smoothing",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, value) AS rn
      FROM events WHERE user_id % 10 = 4
    ),
    rec AS (
      SELECT user_id, ts, value, rn, CAST(value AS DOUBLE) AS ewma
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.ts, b.value, b.rn,
             CAST(0.3 AS DOUBLE) * b.value
               + (CAST(1.0 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * r.ewma
      FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
    )
    SELECT user_id, ts, ROUND(value, 4) AS value, ROUND(ewma, 6) AS ewma
    FROM rec
    """,
    doc="per-user EWMA (alpha=0.3) via per-series applyInPandas",
)
def et22_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.downsample import ewma

    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 4)
    return ewma(e, alpha=0.3).select(
        "user_id", "ts", F.round("value", 4).alias("value"), F.round("ewma", 6).alias("ewma")
    )


# ---------------------------------------------------------------------------
# et23 — portable HLL distinct rollup (operators/sketch.py): monthly
# distinct-user estimates computed by max-MERGING the daily register
# partials upward — never re-scanning raw events — next to the exact
# count for calibration.  Unlike et07's native Datasketches HLL (binary,
# engine-specific, closeness-tested), these registers derive from the
# md5-based 60-bit hash, so the oracle rebuilds the identical sketch
# from scratch at month level: hash-identical registers + associative
# MAX merge ⇒ value-identical estimates — the mergeability proof is the
# parity check itself.  (_DUCK_HLL_H is defined at the top of the file,
# shared with et07's week-level rollup oracle.)
# ---------------------------------------------------------------------------
@query(
    "et23_portable_hll",
    bench=True,
    doc="portable-HLL monthly distinct users from day-partial merges "
    "(operators.sketch; registers bit-identical across engines)",
    oracle=f"""
    WITH h AS (
      SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket,
             {_DUCK_HLL_H} AS h
      FROM events
    ),
    r AS (
      SELECT bucket, h % 256 AS idx,
             CASE WHEN h // 256 = 0 THEN 53
                  ELSE 53 - length(bin(h // 256)) END AS rho
      FROM h
    ),
    regs AS (SELECT bucket, idx, MAX(rho) AS max_rho FROM r GROUP BY 1, 2),
    agg AS (
      SELECT bucket, COUNT(*) AS n_present,
             SUM(pow(2.0, -max_rho)) AS s_present
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT bucket,
             (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
               / ((256 - n_present) * 1.0 + s_present) AS e_raw,
             256 - n_present AS v
      FROM agg
    ),
    fin AS (
      SELECT bucket,
             CASE WHEN e_raw <= 640.0 AND v > 0
                  THEN ROUND(256.0 * ln(256.0 / v), 2)
                  ELSE ROUND(e_raw, 2) END AS est_distinct,
             CASE WHEN e_raw <= 640.0 AND v > 0 THEN 'linear' ELSE 'raw' END
               AS est_branch
      FROM est
    )
    SELECT f.bucket, f.est_distinct, f.est_branch,
           x.n_exact
    FROM fin f
    JOIN (SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket,
                 COUNT(DISTINCT user_id) AS n_exact
          FROM events GROUP BY 1) x USING (bucket)
    """,
)
def et23_portable_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.sketch import hll_estimate, hll_merge, hll_partials

    e = load_table(spark, sf_dir, "events")
    day = hll_partials(
        e, key_col="user_id", bucket=F.date_trunc("DAY", F.col("ts"))
    )
    month = hll_merge(day, F.date_trunc("MONTH", F.col("bucket")))
    est = hll_estimate(month)
    exact = e.groupBy(F.date_trunc("MONTH", F.col("ts")).alias("bucket")).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(exact, "bucket")


# ---------------------------------------------------------------------------
# et24 — mergeable histogram quantiles (operators/sketch.py): per-event-
# type p50/p90/p99 of value estimated from day-partial histograms merged
# upward — the quantile sibling of et04 (numeric partials) and et23
# (HLL distincts).  floor(value/8) binning is pure IEEE arithmetic, so
# the oracle rebuilds identical bins directly at event_type level and
# SUM-merge associativity is again what parity proves.  Exact
# quantile_cont rides along for calibration.
# ---------------------------------------------------------------------------
@query(
    "et24_histogram_quantiles",
    bench=True,
    doc="mergeable fixed-width-histogram p50/p90/p99 vs exact "
    "(operators.sketch.hist_*)",
    oracle="""
    WITH b AS (
      -- NULL values are outside the histogram, matching hist_partials'
      -- aggregate semantics (a NULL bin would corrupt the cumulative sum)
      SELECT event_type, CAST(FLOOR(value / 8.0) AS BIGINT) AS bin,
             COUNT(*) AS cnt
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, bin, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(cnt) OVER (PARTITION BY event_type) AS total
      FROM b
    ),
    -- DOUBLE, not DECIMAL: q and the target arithmetic must be IEEE
    -- doubles to match Spark bit-for-bit
    qs AS (SELECT UNNEST(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q),
    pick AS (
      SELECT event_type, q, bin, cnt, cum - cnt AS cum_before,
             q * total AS target,
             ROW_NUMBER() OVER (PARTITION BY event_type, q ORDER BY bin) AS rn
      FROM cum CROSS JOIN qs
      WHERE cum >= q * total
    ),
    est AS (
      SELECT event_type, q,
             ROUND(bin * 8.0 + 8.0 * (target - cum_before) / cnt, 4) AS est
      FROM pick WHERE rn = 1
    ),
    exact AS (
      SELECT event_type, UNNEST(CAST([0.5, 0.9, 0.99] AS DOUBLE[])) AS q,
             UNNEST([ROUND(quantile_cont(value, 0.5), 4),
                     ROUND(quantile_cont(value, 0.9), 4),
                     ROUND(quantile_cont(value, 0.99), 4)]) AS exact_q
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, e.q, e.est, x.exact_q
    FROM est e JOIN exact x ON e.event_type = x.event_type AND e.q = x.q
    """,
)
def et24_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.sketch import (
        hist_merge,
        hist_partials,
        hist_quantiles,
    )

    e = load_table(spark, sf_dir, "events")
    day = hist_partials(
        e,
        value_col="value",
        bucket=F.struct(
            F.date_trunc("DAY", F.col("ts")).alias("d"), F.col("event_type").alias("t")
        ),
        width=8.0,
    )
    merged = hist_merge(day, F.col("bucket.t"))
    est = hist_quantiles(merged, width=8.0).withColumnRenamed("bucket", "event_type")
    exact = (
        e.groupBy("event_type")
        .agg(
            *[
                F.round(F.expr(f"percentile(value, {q})"), 4).alias(f"x{i}")
                for i, q in enumerate((0.5, 0.9, 0.99))
            ]
        )
        .select(
            "event_type",
            F.explode(
                F.map_from_arrays(
                    F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
                    F.array("x0", "x1", "x2"),
                )
            ).alias("q", "exact_q"),
        )
    )
    return est.join(exact, ["event_type", "q"])


def _duck_psi_metric(bucket_ref: str, bucket_cur: str, metric: str) -> str:
    """One PSI row in DuckDB: Laplace-smoothed shares over the full-outer
    bucket union — the exact twin of operators/drift.py::psi."""
    p = "((c_ref + 1.0) / (n_ref + k))"
    q = "((c_cur + 1.0) / (n_cur + k))"
    return f"""
      SELECT '{metric}' AS metric,
             ROUND(SUM(({q} - {p}) * ln({q} / {p})), 4) AS psi,
             -- COALESCE: over an empty month-half the operator honestly
             -- counts 0 rows / 0 buckets; MAX over zero rows is NULL
             CAST(COALESCE(MAX(n_ref), 0) AS BIGINT) AS n_ref,
             CAST(COALESCE(MAX(n_cur), 0) AS BIGINT) AS n_cur,
             CAST(COALESCE(MAX(k), 0) AS BIGINT) AS n_buckets
      FROM (
        SELECT b, c_ref, c_cur,
               SUM(c_ref) OVER () AS n_ref, SUM(c_cur) OVER () AS n_cur,
               COUNT(*) OVER () AS k
        FROM (
          SELECT b, COALESCE(c_ref, 0) AS c_ref, COALESCE(c_cur, 0) AS c_cur
          FROM (SELECT {bucket_ref} AS b, COUNT(*) AS c_ref
                FROM events WHERE EXTRACT(day FROM ts) <= 15 GROUP BY 1) r
          FULL OUTER JOIN
               (SELECT {bucket_cur} AS b, COUNT(*) AS c_cur
                FROM events WHERE EXTRACT(day FROM ts) > 15 GROUP BY 1) c
          USING (b)
        )
      )
    """


@query(
    "et26_psi_drift",
    doc="PSI distribution drift, first vs second half of the month, over "
    "event-type shares and value-histogram bins (operators.drift.psi)",
    oracle=f"""
    {_duck_psi_metric("event_type", "event_type", "event_type")}
    UNION ALL
    {_duck_psi_metric("CAST(FLOOR(value / 8.0) AS BIGINT)",
                      "CAST(FLOOR(value / 8.0) AS BIGINT)", "value_bin")}
    """,
)
def et26_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.drift import psi

    # ONE events pass: the two psi calls read each half twice (bucket
    # counts + side totals), so without the checkpoint the scan replays
    # 12x; the slim projection is exactly the three derived columns
    e = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value", F.dayofmonth("ts").alias("_dom"))
        .localCheckpoint(eager=False)
    )
    ref = e.filter(F.col("_dom") <= 15)
    cur = e.filter(F.col("_dom") > 15)
    by_type = psi(ref, cur, bucket_col="event_type").withColumn(
        "metric", F.lit("event_type")
    )
    vbin = F.floor(F.col("value") / 8.0).cast("bigint").alias("vbin")
    by_value = psi(
        ref.select(vbin), cur.select(vbin), bucket_col="vbin"
    ).withColumn("metric", F.lit("value_bin"))
    return by_type.unionByName(by_value).select(
        "metric", "psi", "n_ref", "n_cur", "n_buckets"
    )


# ---------------------------------------------------------------------------
# et25 — count-min sketch frequencies (operators/sketch.py): per-month
# event counts for a probe set of users, estimated from day-partial
# counters SUM-merged upward — the frequency sibling of et23 (HLL
# distincts) and et24 (histogram quantiles).  md5-derived row hashes
# make the counters bit-identical across engines, so the oracle rebuilds
# the sketch at month level and parity again proves merge associativity.
# CMS never under-counts: est_count >= n_exact always, and the exact
# count rides along to show it.
# ---------------------------------------------------------------------------
_DUCK_CMS_H = (
    "((('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || CAST({k} AS VARCHAR)), 1, 15))"
    "::BIGINT) % 256)"
)


@query(
    "et25_count_min_freq",
    doc="count-min-sketch monthly user frequencies from day-partial "
    "merges vs exact (operators.sketch.cms_*)",
    oracle=f"""
    WITH rws AS (SELECT UNNEST(generate_series(0, 3)) AS r),
    counters AS (
      SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket, rws.r,
             {_DUCK_CMS_H.format(k="user_id")} AS c,
             COUNT(*) AS cnt
      FROM events CROSS JOIN rws
      GROUP BY 1, 2, 3
    ),
    probes AS (SELECT UNNEST(generate_series(0, 9)) AS user_id),
    coords AS (
      SELECT p.user_id, rws.r, {_DUCK_CMS_H.format(k="p.user_id")} AS c
      FROM probes p CROSS JOIN rws
    ),
    spine AS (
      SELECT b.bucket, coords.user_id, coords.r, coords.c
      FROM (SELECT DISTINCT bucket FROM counters) b CROSS JOIN coords
    ),
    est AS (
      SELECT s.bucket, s.user_id,
             MIN(COALESCE(t.cnt, 0)) AS est_count
      FROM spine s LEFT JOIN counters t
        ON s.bucket = t.bucket AND s.r = t.r AND s.c = t.c
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket, user_id,
             COUNT(*) AS n_exact
      FROM events WHERE user_id < 10 GROUP BY 1, 2
    )
    SELECT e.bucket, e.user_id, CAST(e.est_count AS BIGINT) AS est_count,
           CAST(COALESCE(x.n_exact, 0) AS BIGINT) AS n_exact
    FROM est e LEFT JOIN exact x
      ON e.bucket = x.bucket AND e.user_id = x.user_id
    """,
)
def et25_count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.sketch import (
        cms_estimate,
        cms_merge,
        cms_partials,
    )

    e = load_table(spark, sf_dir, "events")
    day = cms_partials(
        e, key_col="user_id", bucket=F.date_trunc("DAY", F.col("ts"))
    )
    month = cms_merge(day, F.date_trunc("MONTH", F.col("bucket")))
    probes = e.sparkSession.range(10).select(F.col("id").alias("user_id"))
    est = cms_estimate(month, probes, key_col="user_id")
    exact = (
        e.filter(F.col("user_id") < 10)
        .groupBy(
            F.date_trunc("MONTH", F.col("ts")).alias("bucket"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return est.join(exact, ["bucket", "user_id"], "left").select(
        "bucket",
        "user_id",
        "est_count",
        F.coalesce("n_exact", F.lit(0)).alias("n_exact"),
    )


# ---------------------------------------------------------------------------
# et27 — CUSUM change-point detection (operators/drift.py::cusum_flags):
# two-sided Page-1954 CUSUM over DAILY ORDER COUNTS, reset per year.
# Completes the monitoring family (PSI drift et26, MAD outliers et14,
# Benford et19) with the sequential detector: drift too small for any
# single-day outlier test accumulates in s± until the threshold trips.
# Integer counts + integer reference levels make the clamped recursion
# bit-identical across engines, so a DuckDB recursive CTE replays it
# exactly.  The recursion runs on the per-day aggregate (≤366 rows per
# year-group), never raw orders.
# ---------------------------------------------------------------------------
@query(
    "et27_cusum_changepoints",
    doc="two-sided CUSUM change-point flags over daily order counts, "
    "reset per year (operators.drift.cusum_flags)",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             CAST(o_orderdate AS DATE) AS day, COUNT(*) AS x
      FROM orders GROUP BY 1, 2
    ),
    ks AS (
      SELECT yr,
             CAST(CEIL(SUM(x)::DOUBLE / COUNT(*)) AS BIGINT) + 1 AS k_hi,
             CAST(FLOOR(SUM(x)::DOUBLE / COUNT(*)) AS BIGINT) - 1 AS k_lo
      FROM daily GROUP BY yr
    ),
    ordered AS (
      SELECT d.yr, d.day, d.x, k.k_hi, k.k_lo,
             ROW_NUMBER() OVER (PARTITION BY d.yr ORDER BY d.day) AS rn
      FROM daily d JOIN ks k ON d.yr = k.yr
    ),
    rec AS (
      SELECT yr, day, x, rn,
             GREATEST(CAST(0 AS BIGINT), x - k_hi) AS s_plus,
             GREATEST(CAST(0 AS BIGINT), k_lo - x) AS s_minus
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.yr, o.day, o.x, o.rn,
             GREATEST(CAST(0 AS BIGINT), r.s_plus + (o.x - o.k_hi)),
             GREATEST(CAST(0 AS BIGINT), r.s_minus + (o.k_lo - o.x))
      FROM rec r JOIN ordered o ON o.yr = r.yr AND o.rn = r.rn + 1
    )
    SELECT CAST(yr AS BIGINT) AS yr, day, CAST(x AS BIGINT) AS x,
           s_plus, s_minus,
           (s_plus > 5 OR s_minus > 5) AS flagged
    FROM rec
    """,
)
def et27_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.drift import cusum_flags

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("x"))
    return cusum_flags(
        daily, group_col="yr", order_col="day", value_col="x",
        drift=1, threshold=5,
    )


# ---------------------------------------------------------------------------
# et28 — audience set algebra on bitmaps (the ad-tech segment-overlap
# pattern, extending et21's exact-distinct bitmaps): per event_type
# audience, user ids pack into 63-bit words; AND/OR/ANDNOT across
# audiences become joins on the word bucket + bitwise ops + popcount
# sums — |A∩B| costs one equi-join over word tables that are
# |id-space|/63 rows regardless of event volume, never a user-level
# join.  Union and difference derive by inclusion-exclusion from the
# same intersection pass.  Words and popcounts are exact integers, so
# the oracle replays bit-for-bit.
# ---------------------------------------------------------------------------
@query(
    "et28_audience_bitmap_ops",
    doc="segment-overlap set algebra (AND/OR/A-only) on 63-bit user "
    "bitmaps per audience pair",
    oracle="""
    WITH words AS MATERIALIZED (
      -- bit = non-negative mod, bucket = (id - bit) // 63 (exact, so
      -- truncation == floor): total over ALL bigints
      SELECT event_type AS seg,
             (user_id - (((user_id % 63) + 63) % 63)) // 63 AS bucket,
             BIT_OR(1::BIGINT << CAST(((user_id % 63) + 63) % 63 AS INT)) AS word
      FROM events GROUP BY 1, 2
    ),
    sizes AS (
      SELECT seg, CAST(SUM(bit_count(word)) AS BIGINT) AS n
      FROM words GROUP BY seg
    ),
    inter AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b,
             CAST(SUM(bit_count(a.word & b.word)) AS BIGINT) AS n_and
      FROM words a JOIN words b
        ON a.bucket = b.bucket AND a.seg < b.seg
      GROUP BY 1, 2
    )
    SELECT i.seg_a, i.seg_b, sa.n AS n_a, sb.n AS n_b, i.n_and,
           sa.n + sb.n - i.n_and AS n_or,
           sa.n - i.n_and AS n_a_only
    FROM inter i
    JOIN sizes sa ON sa.seg = i.seg_a
    JOIN sizes sb ON sb.seg = i.seg_b
    """,
)
def et28_audience_bitmap_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # bit = pmod(id, 63), bucket = (id − bit) div 63 — exact division,
    # so truncation == floor and the packing is total over ALL bigints
    # (negative ids made DuckDB's `<<` error and Java's wrap silently;
    # caught by the i91 negative-id corpus, round 5).  Integer `div`,
    # not double `/`: doubles lose exactness past 2^53.
    words = e.groupBy(
        F.col("event_type").alias("seg"),
        F.expr("(user_id - pmod(user_id, 63)) div 63").alias("bucket"),
    ).agg(
        F.bit_or(F.expr("shiftleft(1L, CAST(pmod(user_id, 63) AS INT))")).alias("word")
    )
    sizes = words.groupBy("seg").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n")
    )
    a = words.select(
        F.col("seg").alias("seg_a"), "bucket", F.col("word").alias("wa")
    )
    b = words.select(
        F.col("seg").alias("seg_b"), "bucket", F.col("word").alias("wb")
    )
    inter = (
        a.join(b, "bucket")
        .filter(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(
            F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb"))))
            .cast("bigint")
            .alias("n_and")
        )
    )
    sa = sizes.select(F.col("seg").alias("seg_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("seg").alias("seg_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "seg_a")
        .join(F.broadcast(sb), "seg_b")
        .select(
            "seg_a",
            "seg_b",
            "n_a",
            "n_b",
            "n_and",
            (F.col("n_a") + F.col("n_b") - F.col("n_and")).alias("n_or"),
            (F.col("n_a") - F.col("n_and")).alias("n_a_only"),
        )
    )


# ---------------------------------------------------------------------------
# et29 — incremental view maintenance end-to-end (operators/ivm.py):
# a stored daily partials table absorbs a change feed carrying BOTH
# late inserts and retractions, and the result is bit-identical to a
# from-scratch rebuild of the post-change snapshot — hash equality IS
# the IVM-consistency proof.  n/sum fold incrementally; deletes make
# min/max non-subtractable, so apply_feed recomputes exactly the
# TOUCHED (bucket, key) groups from the snapshot and keeps every
# untouched group's stored row (the standard IVM treatment; at 100 TB
# the recompute prunes to the touched time partitions).  The feed
# split derives deterministically from event_id: %10==3 rows are the
# late arrivals, %17==5 rows of the original load are retracted.
# NULL-event_id rows fall out of BOTH sides' mod predicates (three-
# valued logic) — stated here so the symmetry is a contract, not luck.
# ---------------------------------------------------------------------------
@query(
    "et29_ivm_apply_feed",
    doc="incremental view maintenance: daily partials + insert/delete change "
    "feed == full rebuild (operators.ivm.apply_feed; touched-group min/max "
    "recompute, untouched groups never re-read)",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           ROUND(MIN(value), 2) AS min_value,
           ROUND(MAX(value), 2) AS max_value
    FROM events
    WHERE (event_id % 10 = 3)
       OR (event_id % 10 <> 3 AND event_id % 17 <> 5)
    GROUP BY 1, 2
    """,
)
def et29_ivm_apply_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.ivm import apply_feed
    from etl_batch_spark.operators.rollup import rollup_cascade

    e = load_table(spark, sf_dir, "events")
    is_late = F.col("event_id") % 10 == 3
    is_retracted = F.col("event_id") % 17 == 5
    base = e.filter(~is_late)  # the original load (NULL ids drop on both sides)
    partials = rollup_cascade(
        base, ts_col="ts", key_cols=("event_type",), value_col="value", levels=("day",)
    )["day"]
    feed = (
        e.filter(is_late)
        .withColumn("_change_type", F.lit("insert"))
        .unionByName(
            base.filter(is_retracted).withColumn("_change_type", F.lit("delete"))
        )
    )
    post = e.filter(is_late | (~is_late & ~is_retracted))
    out = apply_feed(
        partials, feed, ts_col="ts", key_cols=["event_type"],
        value_col="value", level="day", raw=post,
    )
    return out.select(
        "bucket",
        "event_type",
        F.col("n").alias("n_events"),
        F.round("sum_v", 2).alias("sum_value"),
        F.round("min_v", 2).alias("min_value"),
        F.round("max_v", 2).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# et30 — transaction-log time travel (sources/txlog.py): three real
# commits (overwrite, append, correcting overwrite) against a scratch
# TxTable, then read(version=1) — the PRE-correction snapshot, resolved
# purely from the log (never a filesystem listing).  The oracle
# reconstructs what v1 contained in SQL.  At 100 TB the log is KBs of
# metadata per commit; time travel costs one log replay + a pruned
# file read.
# ---------------------------------------------------------------------------
@query(
    "et30_time_travel",
    doc="lakehouse time travel: read(version=1) after a later correcting "
    "overwrite (sources.txlog.TxTable; snapshot resolved from the commit "
    "log alone)",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(c_acctbal, 2) AS acctbal, c_mktsegment AS segment
    FROM customer
    WHERE c_custkey % 3 IN (0, 1)
    """,
)
def et30_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    with tempfile.TemporaryDirectory(prefix="et30_txtable_", ignore_cleanup_errors=True) as tmp:
        t = TxTable(spark, tmp)
        t.overwrite(c.filter(F.col("c_custkey") % 3 == 0))   # v0: initial load
        t.append(c.filter(F.col("c_custkey") % 3 == 1))      # v1: increment
        t.overwrite(c.filter(F.col("c_custkey") % 2 == 0))   # v2: correction
        return t.read(version=1).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et31 — merge upsert through the transaction log (sources/txlog.py::
# TxTable.merge): a scratch TxTable target absorbs one MERGE of
# latest-order-per-customer updates with all four verbs exercised —
# update (existing keys), insert (keys shifted past the dimension's
# range), delete (mod-50 flag), carry (customers with no orders).  The
# oracle replays the same MERGE as a latest-wins fold in SQL.  The
# delete-flag and insert-shift predicates are disjoint by construction
# (%100==7 ⇒ %50==7 ≠ 3).  The target is one overwrite, so its files'
# key envelopes all overlap the updates' bounds and the merge rewrites
# the whole dimension-sized snapshot in one commit; et36 shows the same
# merge pruning files on a fact-scale layout.
# ---------------------------------------------------------------------------
@query(
    "et31_merge_upsert",
    doc="MERGE upsert as one transaction-log commit: update/insert/delete/"
    "carry in one pass (sources.txlog.TxTable.merge over a scratch table)",
    oracle="""
    WITH latest AS (
      SELECT o_custkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderkey DESC) AS rn
      FROM orders
    ),
    upd AS (
      SELECT CASE WHEN o_custkey % 100 = 7
                  THEN o_custkey + 10000000 ELSE o_custkey END AS c_custkey,
             o_totalprice AS acctbal,
             'UPDATED' AS segment,
             (o_custkey % 50 = 3) AS is_del
      FROM latest WHERE rn = 1
    ),
    merged AS (
      SELECT t.c_custkey, t.c_acctbal AS acctbal, t.c_mktsegment AS segment
      FROM customer t
      WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = t.c_custkey)
      UNION ALL
      SELECT c_custkey, acctbal, segment FROM upd WHERE NOT is_del
    )
    SELECT c_custkey, ROUND(acctbal, 2) AS acctbal, segment
    FROM merged
    """,
)
def et31_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.sources.txlog import TxTable

    with tempfile.TemporaryDirectory(prefix="et31_merge_", ignore_cleanup_errors=True) as tmp:
        c = load_table(spark, sf_dir, "customer").select(
            "c_custkey",
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("segment"),
        )
        target = TxTable(spark, os.path.join(tmp, "target"))
        target.overwrite(c)
        o = load_table(spark, sf_dir, "orders")
        latest = o.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("o_custkey").orderBy(F.col("o_orderkey").desc())
            ),
        ).filter(F.col("rn") == 1)
        updates = latest.select(
            F.when(F.col("o_custkey") % 100 == 7, F.col("o_custkey") + 10000000)
            .otherwise(F.col("o_custkey"))
            .alias("c_custkey"),
            F.col("o_totalprice").alias("acctbal"),
            F.lit("UPDATED").alias("segment"),
            (F.col("o_custkey") % 50 == 3).alias("is_del"),
        )
        target.merge(updates, ["c_custkey"], delete_col="is_del")
        merged = target.read().select(
            "c_custkey", F.round("acctbal", 2).alias("acctbal"), "segment"
        )
        return merged.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et32 — transaction-log change feed (sources/txlog.py::changes): the
# CDF between version 0 and HEAD of et30's commit sequence (overwrite,
# append, correcting overwrite).  The range spans an overwrite, so the
# feed is the honest multiset diff of the two snapshots — inserts are
# rows only the head has, deletes rows only v0 had; an update would
# appear as delete+insert.  The oracle replays the diff as residue set
# algebra on the same deterministic commit contents.
# ---------------------------------------------------------------------------
@query(
    "et32_change_feed",
    doc="lakehouse change-data-feed across an overwrite: multiset snapshot "
    "diff with _change_type insert/delete (sources.txlog.TxTable.changes)",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(c_acctbal, 2) AS acctbal, c_mktsegment AS segment,
           'insert' AS _change_type
    FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 3 <> 0
    UNION ALL
    SELECT c_custkey, c_name,
           ROUND(c_acctbal, 2) AS acctbal, c_mktsegment AS segment,
           'delete' AS _change_type
    FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 2 <> 0
    """,
)
def et32_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    with tempfile.TemporaryDirectory(prefix="et32_txtable_", ignore_cleanup_errors=True) as tmp:
        t = TxTable(spark, tmp)
        t.overwrite(c.filter(F.col("c_custkey") % 3 == 0))   # v0
        t.append(c.filter(F.col("c_custkey") % 3 == 1))      # v1
        t.overwrite(c.filter(F.col("c_custkey") % 2 == 0))   # v2
        return t.changes(0, 2).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et33 — compaction + vacuum invariance (sources/txlog.py): three
# append commits land the dimension in small files, compact() rewrites
# the snapshot into fewer files as just another commit, vacuum()
# physically deletes every file no recent version references — and the
# table reads back IDENTICAL rows afterwards.  Hash equality against
# the plain SQL of the appended content IS the invariance proof; the
# read resolves its file list purely from the log, so it sees only the
# compacted files vacuum kept.
# ---------------------------------------------------------------------------
@query(
    "et33_compaction_invariance",
    doc="OPTIMIZE-style compaction then vacuum leaves table contents "
    "bit-identical (sources.txlog.TxTable.compact/vacuum)",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(c_acctbal, 2) AS acctbal, c_mktsegment AS segment
    FROM customer
    """,
)
def et33_compaction_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    with tempfile.TemporaryDirectory(prefix="et33_txtable_", ignore_cleanup_errors=True) as tmp:
        t = TxTable(spark, tmp)
        # the three-way split must be EXHAUSTIVE over every key the
        # oracle's plain `FROM customer` sees: `% 3 == r` alone drops
        # negative keys (remainder -1/-2 matches no branch — the i91
        # corpus caught exactly that as a 1075-vs-1500 row mismatch)
        # and NULL keys (NULL == r is never true); pmod folds negatives
        # and coalesce routes NULLs to the last branch
        bucket = F.coalesce(F.pmod(F.col("c_custkey"), F.lit(3)), F.lit(2))
        for residue in (0, 1, 2):  # three small-file appends
            t.append(c.filter(bucket == residue))
        t.compact(target_files=2)
        t.vacuum(retain_versions=1)
        return t.read().localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et34 — OPTIMIZE ZORDER invariance (sources/txlog.py::compact with
# zorder_cols): the clustered rewrite re-sorts the snapshot along the
# Morton curve over (c_custkey, c_acctbal) so file min/max envelopes
# tighten for data skipping — and, being just another commit, it must
# leave table CONTENTS bit-identical, which the hash proves.  The
# curve/clustering itself has its own plan and envelope tests
# (test_sources); this entry pins the end-to-end content contract
# under the driver gate, vacuum included.
# ---------------------------------------------------------------------------
@query(
    "et34_zorder_invariance",
    doc="OPTIMIZE ZORDER clustered compaction + vacuum leaves contents "
    "bit-identical (sources.txlog.TxTable.compact(zorder_cols=...))",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(c_acctbal, 2) AS acctbal, c_mktsegment AS segment
    FROM customer
    """,
)
def et34_zorder_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    with tempfile.TemporaryDirectory(prefix="et34_txtable_", ignore_cleanup_errors=True) as tmp:
        t = TxTable(spark, tmp)
        t.overwrite(c)
        t.compact(target_files=3, zorder_cols=["c_custkey", "acctbal"])
        t.vacuum(retain_versions=1)
        return t.read().localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et35 — incremental maintenance of a NON-NUMERIC partials family across
# multiple triggers (streaming/events.py::maintain_partials_versioned
# over operators/sketch.py's portable HLL): the events table is split
# into two source files, each drained in its own availableNow run
# against one checkpoint, the day-grain HLL register table merging
# incrementally (MAX per register, one TxTable commit per batch); a
# replay of the first file must be a no-op.  The maintained store is
# then rolled up day→month and estimated — and the oracle REBUILDS the
# same monthly registers from scratch in SQL (et23's exactly-portable
# estimator), so "incrementally maintained == full rebuild" is what the
# value hash proves.  At scale each trigger touches only its batch's
# buckets; store size is buckets × 256 registers regardless of row
# count (plus superseded versions until a vacuum).
# ---------------------------------------------------------------------------
@query(
    "et35_incremental_hll_maintenance",
    doc="streaming continuous aggregate for HLL registers: day partials "
    "maintained incrementally across two drains + a replayed file "
    "(maintain_partials_versioned), rolled up to monthly estimates "
    "== full SQL rebuild",
    oracle=f"""
    WITH h AS (
      SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket,
             {_DUCK_HLL_H} AS h
      FROM events
    ),
    r AS (
      SELECT bucket, h % 256 AS idx,
             CASE WHEN h // 256 = 0 THEN 53
                  ELSE 53 - length(bin(h // 256)) END AS rho
      FROM h
    ),
    regs AS (SELECT bucket, idx, MAX(rho) AS max_rho FROM r GROUP BY 1, 2),
    agg AS (
      SELECT bucket, COUNT(*) AS n_present,
             SUM(pow(2.0, -max_rho)) AS s_present
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT bucket,
             (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0
               / ((256 - n_present) * 1.0 + s_present) AS e_raw,
             256 - n_present AS v
      FROM agg
    ),
    fin AS (
      SELECT bucket,
             CASE WHEN e_raw <= 640.0 AND v > 0
                  THEN ROUND(256.0 * ln(256.0 / v), 2)
                  ELSE ROUND(e_raw, 2) END AS est_distinct,
             CASE WHEN e_raw <= 640.0 AND v > 0 THEN 'linear' ELSE 'raw' END
               AS est_branch
      FROM est
    )
    SELECT f.bucket, f.est_distinct, f.est_branch, x.n_exact
    FROM fin f
    JOIN (SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket,
                 COUNT(DISTINCT user_id) AS n_exact
          FROM events GROUP BY 1) x USING (bucket)
    """,
)
def et35_incremental_hll_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.sketch import hll_estimate, hll_merge, hll_partials
    from etl_batch_spark.streaming.events import maintain_partials_versioned

    with tempfile.TemporaryDirectory(prefix="et35_hll_", ignore_cleanup_errors=True) as tmp:
        src = os.path.join(tmp, "src")
        store = os.path.join(tmp, "store")
        ck = os.path.join(tmp, "ck")
        os.makedirs(src)

        e = load_table(spark, sf_dir, "events")

        def build(batch: DataFrame) -> DataFrame:
            return hll_partials(
                batch, key_col="user_id", bucket=F.date_trunc("DAY", F.col("ts"))
            )

        def merge(both: DataFrame) -> DataFrame:
            return hll_merge(both, F.col("bucket"))

        part0, part1 = stage_halves(e, tmp)
        kwargs = dict(build=build, merge=merge)
        shutil.copyfile(part0, os.path.join(src, "events_a.parquet"))
        maintain_partials_versioned(spark, src, store, ck, **kwargs)
        shutil.copyfile(part1, os.path.join(src, "events_b.parquet"))
        maintain_partials_versioned(spark, src, store, ck, **kwargs)
        # replay: same path, same contents, new mtime — the checkpoint
        # must treat the file as consumed and deliver zero batches
        shutil.copyfile(part0, os.path.join(src, "events_a.parquet"))
        replayed, t = maintain_partials_versioned(spark, src, store, ck, **kwargs)
        if replayed != 0:
            raise AssertionError(
                f"replayed source file re-delivered {replayed} batches; "
                "exactly-once file tracking is broken"
            )

        out_schema = (
            "bucket timestamp, est_distinct double, est_branch string, "
            "n_exact bigint"
        )
        if t.latest_version() < 0:
            # an entirely file-less source never commits to the store
            return spark.createDataFrame([], out_schema)
        month = hll_merge(t.read(), F.date_trunc("MONTH", F.col("bucket")))
        est = hll_estimate(month)
        exact = e.groupBy(F.date_trunc("MONTH", F.col("ts")).alias("bucket")).agg(
            F.countDistinct("user_id").alias("n_exact")
        )
        return est.join(exact, "bucket").localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et36 — fact-scale MERGE through the transaction log (sources/txlog.py::
# TxTable.merge): the orders projection appended once per o_orderstatus
# value, so every file holds one status (the TxTable counterpart of
# partitionBy), absorbs an update batch that touches ONLY status 'O' —
# updates (+1000.00 on %7==3, exact 2dp so no ROUND boundary), deletes
# (%7==4), inserts (keys shifted past the fact's range on %7==5).  The
# merge keys on (o_orderstatus, o_orderkey), so files whose logged
# status envelope excludes 'O' are pruned and carry through UNREAD: the
# query asserts from the log, before returning, that the merge commit
# removed only files whose envelope holds 'O' (or that have none: the
# NULL-status file) and that every other file is still live — live
# TxTable files are immutable, so byte-identical.  The oracle replays
# the merge as per-row set algebra.  Updates are DISTINCT-folded per
# key on both sides (exact-duplicate corpora).  This is the 100 TB
# merge plan: cost tracks the update's file footprint, never the table
# size.
# ---------------------------------------------------------------------------
@query(
    "et36_partitioned_merge",
    doc="file-pruned MERGE: update/insert/delete within one status, "
    "files of other statuses left live and unread "
    "(sources.txlog.TxTable.merge on log key envelopes)",
    oracle="""
    WITH upd AS (
      SELECT DISTINCT
             CASE WHEN o_orderkey % 7 = 5
                  THEN o_orderkey + 50000000 ELSE o_orderkey END AS o_orderkey,
             o_totalprice + 1000.0 AS price,
             (o_orderkey % 7 = 4) AS is_del
      FROM orders
      WHERE o_orderstatus = 'O' AND o_orderkey % 7 IN (3, 4, 5)
    ),
    merged AS (
      SELECT t.o_orderkey, t.o_totalprice AS price, t.o_orderstatus
      FROM orders t
      WHERE t.o_orderstatus IS DISTINCT FROM 'O'
         OR NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = t.o_orderkey)
      UNION ALL
      SELECT o_orderkey, price, 'O' AS o_orderstatus
      FROM upd WHERE NOT is_del
    )
    SELECT o_orderkey, ROUND(price, 2) AS price, o_orderstatus
    FROM merged
    """,
)
def et36_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.sources.txlog import TxTable

    with tempfile.TemporaryDirectory(prefix="et36_merge_", ignore_cleanup_errors=True) as tmp:
        table = TxTable(spark, os.path.join(tmp, "target"))
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            "o_orderstatus",
        )
        for (status,) in o.select("o_orderstatus").distinct().collect():
            table.append(o.filter(F.col("o_orderstatus").eqNullSafe(status)))
        updates = (
            o.filter(
                (F.col("o_orderstatus") == "O")
                & (F.col("o_orderkey") % 7).isin(3, 4, 5)
            )
            .select(
                F.when(
                    F.col("o_orderkey") % 7 == 5,
                    F.col("o_orderkey") + 50000000,
                )
                .otherwise(F.col("o_orderkey"))
                .alias("o_orderkey"),
                (F.col("price") + 1000.0).alias("price"),
                (F.col("o_orderkey") % 7 == 4).alias("is_del"),
                F.lit("O").alias("o_orderstatus"),
            )
            .distinct()
        )
        v = table.merge(
            updates, ["o_orderstatus", "o_orderkey"], delete_col="is_del"
        )
        stats = table._snapshot(v - 1)[2]  # noqa: SLF001

        def may_hold_o(f: str) -> bool:
            env = stats.get(f, {}).get("o_orderstatus")
            return env is None or env[0] <= "O" <= env[1]

        removed = table._read_entry(v).removed  # noqa: SLF001
        live = set(table._snapshot(v)[0])  # noqa: SLF001
        wrong = [f for f in removed if not may_hold_o(f)] + [
            f for f in stats if not may_hold_o(f) and f not in live
        ]
        if wrong:
            raise AssertionError(f"merge rewrote files without 'O': {wrong[:4]}")
        back = table.read().select(
            "o_orderkey",
            F.round("price", 2).alias("price"),
            "o_orderstatus",
        )
        return back.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et37 — vacuum retention horizon (sources/txlog.py::vacuum/read): three
# small appends + a compaction, then (1) vacuum(retain_versions=2) must
# delete NOTHING — the pre-compaction files are still referenced by the
# retained version — (2) vacuum(retain_versions=1) deletes exactly the
# superseded files, after which the pre-compaction snapshot REFUSES
# cleanly (the retention-horizon error, not a scan-time path-not-found)
# while HEAD still reads bit-identical contents (what the oracle
# hashes), and (3) a second vacuum is a no-op (idempotent).  Every
# assertion failure raises, so the driver sees it as an err row.
# ---------------------------------------------------------------------------
@query(
    "et37_vacuum_retention",
    doc="vacuum respects the retention horizon (retain=2 deletes nothing, "
    "retain=1 deletes superseded files, time travel past the horizon "
    "refuses cleanly, contents invariant; sources.txlog.TxTable)",
    oracle="""
    SELECT c_custkey, c_name,
           ROUND(c_acctbal, 2) AS acctbal, c_mktsegment AS segment
    FROM customer
    """,
)
def et37_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.sources.txlog import TxTable

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.round("c_acctbal", 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    with tempfile.TemporaryDirectory(prefix="et37_txtable_", ignore_cleanup_errors=True) as tmp:
        t = TxTable(spark, tmp)
        bucket = F.coalesce(F.pmod(F.col("c_custkey"), F.lit(3)), F.lit(2))
        for residue in (0, 1, 2):  # v0..v2: three small appends
            t.append(c.filter(bucket == residue))
        t.compact(target_files=2)  # v3
        # retain=2 keeps v2's snapshot, which references every
        # pre-compaction file: nothing is deletable
        if t.vacuum(retain_versions=2):
            raise AssertionError("vacuum(retain=2) deleted retained files")
        t.read(version=2)  # still resolvable
        removed = t.vacuum(retain_versions=1)
        if not removed:
            raise AssertionError("vacuum(retain=1) removed nothing")
        try:
            t.read(version=2)
            raise AssertionError("read past the vacuum horizon did not refuse")
        except ValueError as exc:
            if "vacuum" not in str(exc):
                raise
        if t.vacuum(retain_versions=1):
            raise AssertionError("second vacuum was not a no-op")
        return t.read().localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et38 — VERSIONED continuous aggregate across multiple triggers
# (streaming/events.py::maintain_partials_versioned over the numeric
# day-rollup family): the events table is split into two source files,
# each drained in its own availableNow run, every micro-batch merge
# landing as one TxTable commit whose metadata records the batch id —
# replay detection lives inside the atomic commit, and the rollup's
# history is time-travelable per batch.  The query itself asserts the
# multi-trigger contract (one commit per drain, replayed file delivers
# nothing, read(version=0) equals a recomputation of batch 0's partials
# on bucket/key/count — int columns only; float sums are compared at
# HEAD through the oracle), then the oracle rebuilds the final rollup
# from scratch.  et35's sibling: same store and trigger discipline,
# numeric family instead of HLL registers.
# ---------------------------------------------------------------------------
@query(
    "et38_versioned_rollup_maintenance",
    doc="TxTable-versioned streaming rollup across two drains + a replayed "
    "file; per-batch time travel asserted in-query; final state == full "
    "SQL rebuild (streaming.events.maintain_partials_versioned)",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           ROUND(MIN(value), 2) AS min_value,
           ROUND(MAX(value), 2) AS max_value
    FROM events
    GROUP BY 1, 2
    """,
)
def et38_versioned_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.rollup import _merge_partials, _partials_from_raw
    from etl_batch_spark.streaming.events import maintain_partials_versioned

    with tempfile.TemporaryDirectory(prefix="et38_vroll_", ignore_cleanup_errors=True) as tmp:
        src = os.path.join(tmp, "src")
        table_path = os.path.join(tmp, "table")
        ck = os.path.join(tmp, "ck")
        os.makedirs(src)

        e = load_table(spark, sf_dir, "events")

        def build(batch: DataFrame) -> DataFrame:
            return _partials_from_raw(
                batch, ts_col="ts", key_cols=("event_type",),
                value_col="value", level="day",
            )

        def merge(both: DataFrame) -> DataFrame:
            return _merge_partials(both, key_cols=("event_type",), level="day")

        part0, part1 = stage_halves(e, tmp)
        kwargs = dict(build=build, merge=merge)
        shutil.copyfile(part0, os.path.join(src, "events_a.parquet"))
        _, t = maintain_partials_versioned(spark, src, table_path, ck, **kwargs)
        if t.latest_version() != 0 or (t.latest_meta() or {}).get("batch_id") != 0:
            raise AssertionError(f"drain 1 did not land as commit v0: {t.history()}")
        shutil.copyfile(part1, os.path.join(src, "events_b.parquet"))
        maintain_partials_versioned(spark, src, table_path, ck, **kwargs)
        if t.latest_version() != 1:
            raise AssertionError(f"drain 2 did not land as commit v1: {t.history()}")
        shutil.copyfile(part0, os.path.join(src, "events_a.parquet"))
        replayed, _ = maintain_partials_versioned(
            spark, src, table_path, ck, **kwargs
        )
        if replayed != 0 or t.latest_version() != 1:
            raise AssertionError(
                f"replayed file re-committed ({replayed} batches, "
                f"head v{t.latest_version()})"
            )
        # per-batch time travel: v0 is exactly batch 0's partials.
        # Compare on (bucket, event_type, n) — deterministic integers;
        # float sums are checked at HEAD through the oracle's rebuild
        v0 = t.read(version=0).select("bucket", "event_type", "n")
        batch0 = spark.read.schema(e.schema).parquet(part0)
        b0 = merge(build(batch0)).select("bucket", "event_type", "n")
        if v0.exceptAll(b0).count() or b0.exceptAll(v0).count():
            raise AssertionError("read(version=0) != batch-0 recomputation")

        out = t.read().select(
            "bucket",
            "event_type",
            F.col("n").alias("n_events"),
            F.round("sum_v", 2).alias("sum_value"),
            F.round("min_v", 2).alias("min_value"),
            F.round("max_v", 2).alias("max_value"),
        )
        return out.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et39 — optimistic concurrency on the transaction log
# (sources/txlog.py::ConcurrentWriteConflict): two writers MERGE into
# one TxTable from the SAME snapshot.  Writer A lands; writer B's
# stale commit MUST refuse — a clobber would silently drop A's rows
# (the lost-update anomaly) — and B's retry from the fresh snapshot
# serializes behind A.  The reference prevents the race up front with
# its duplicate-run check (pkg_batch_util_body.sql:219–247, 438–446);
# conflict-on-commit is the lakehouse-native equivalent when writers
# cannot coordinate before starting.  The oracle is the sequential
# application of both merges.  DISTINCT seeds both sides: duplicate-
# ingestion corpora carry exact full-row copies and MERGE is entity-
# keyed (per-key), not per-row.
# ---------------------------------------------------------------------------
@query(
    "et39_concurrent_merge_conflict",
    doc="optimistic-concurrency MERGE race on a TxTable: writer B's "
    "commit from a stale snapshot raises ConcurrentWriteConflict "
    "(asserted in-query, as is the exact v0/v1/v2 commit sequence) and "
    "its recompute-and-retry serializes behind writer A — value-hash "
    "compared against the sequential application of both merges",
    oracle="""
    WITH seed AS (
      SELECT DISTINCT c_custkey, c_acctbal, c_mktsegment FROM customer
    )
    SELECT c_custkey,
           ROUND(CASE ((c_custkey % 3) + 3) % 3
                 WHEN 0 THEN c_acctbal + 100
                 WHEN 1 THEN c_acctbal - 50
                 ELSE c_acctbal END, 2) AS acctbal,
           CASE ((c_custkey % 3) + 3) % 3
                 WHEN 0 THEN 'A_TOUCHED'
                 WHEN 1 THEN 'B_TOUCHED'
                 ELSE c_mktsegment END AS segment
    FROM seed
    """,
)
def et39_concurrent_merge_conflict(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.merge import merge_dataframes
    from etl_batch_spark.sources.txlog import (
        ConcurrentWriteConflict,
        TxTable,
    )

    out_cols = ("c_custkey", "acctbal", "segment")
    seed = (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("segment"),
        )
        .distinct()
    )
    if not seed.head(1):
        # e0 corpus: nothing to seed — an empty TxTable refuses read()
        return spark.createDataFrame([], seed.schema)

    mod3 = F.pmod(F.col("c_custkey"), F.lit(3))

    def merged_with(target: DataFrame, k: int, delta: int, tag: str) -> DataFrame:
        updates = target.filter(mod3 == k).select(
            "c_custkey",
            (F.col("acctbal") + delta).alias("acctbal"),
            F.lit(tag).alias("segment"),
        )
        return merge_dataframes(target, updates, ["c_custkey"])

    with tempfile.TemporaryDirectory(prefix="et39_occ_", ignore_cleanup_errors=True) as tmp:
        t = TxTable(spark, os.path.join(tmp, "table"))
        t.append(seed)  # v0, the shared snapshot

        snap = t.latest_version()
        # both writers derive their rewrite from snapshot v0
        a_df = merged_with(t.read(version=snap), 0, 100, "A_TOUCHED")
        b_df = merged_with(t.read(version=snap), 1, -50, "B_TOUCHED")

        if t.overwrite(a_df, read_version=snap) != 1:
            raise AssertionError("writer A did not land as commit v1")
        try:
            t.overwrite(b_df, read_version=snap)
            raise AssertionError(
                "writer B's stale-snapshot commit was accepted — the "
                "lost-update race went undetected"
            )
        except ConcurrentWriteConflict:
            pass
        if t.latest_version() != 1:
            raise AssertionError(
                "B's refused commit moved the head: "
                f"v{t.latest_version()} != v1"
            )
        # retry: re-read the CURRENT snapshot, recompute, commit behind A
        fresh = t.latest_version()
        b_retry = merged_with(t.read(version=fresh), 1, -50, "B_TOUCHED")
        if t.overwrite(b_retry, read_version=fresh) != 2:
            raise AssertionError("writer B's retry did not land as commit v2")

        out = t.read().select(
            "c_custkey", F.round("acctbal", 2).alias("acctbal"), "segment"
        )
        return out.select(*out_cols).localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et40 — log-resolved schema evolution (sources/txlog.py): the table
# schema lives in the COMMIT LOG (O(columns) per entry), never in
# parquet footers — at 100 TB a mergeSchema footer sweep is a full
# metadata pass, which is why Delta/Iceberg store schemas in metadata
# too.  An append whose schema drifts REFUSES without merge_schema=True
# (asserted in-query); with it, the union schema commits, files written
# before the evolution NULL-fill the new column at read time, and time
# travel sees the HISTORICAL column set (both asserted in-query).  The
# oracle is the two-generation union with a typed NULL for the
# pre-evolution rows.  DISTINCT seeds both sides (duplicate-ingestion
# grain rule).
# ---------------------------------------------------------------------------
@query(
    "et40_schema_evolution",
    doc="TxTable schema evolution under the hash gate: drifted append "
    "refuses without merge_schema (asserted), evolved append NULL-fills "
    "pre-evolution files via the log-stored schema, time travel reads "
    "the historical column set — value-hash compared against the "
    "two-generation union oracle",
    oracle="""
    WITH seed AS (
      SELECT DISTINCT c_custkey, c_acctbal, c_mktsegment FROM customer
    )
    SELECT c_custkey AS custkey, ROUND(c_acctbal, 2) AS acctbal,
           CAST(NULL AS VARCHAR) AS segment
    FROM seed
    UNION ALL
    SELECT c_custkey + 10000000, ROUND(c_acctbal + 1, 2), c_mktsegment
    FROM seed WHERE ((c_custkey % 2) + 2) % 2 = 0
    """,
)
def et40_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.sources.txlog import SchemaEvolutionError, TxTable

    seed = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .distinct()
    )
    v0 = seed.select(
        F.col("c_custkey").alias("custkey"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    v1 = seed.filter(F.pmod(F.col("c_custkey"), F.lit(2)) == 0).select(
        (F.col("c_custkey") + 10000000).alias("custkey"),
        F.round(F.col("c_acctbal") + 1, 2).alias("acctbal"),
        F.col("c_mktsegment").alias("segment"),
    )
    out_schema = "custkey bigint, acctbal double, segment string"
    if not seed.head(1):
        return spark.createDataFrame([], out_schema)

    with tempfile.TemporaryDirectory(prefix="et40_schema_", ignore_cleanup_errors=True) as tmp:
        t = TxTable(spark, os.path.join(tmp, "table"))
        t.append(v0)  # v0: two columns
        try:
            t.append(v1)
            raise AssertionError(
                "drifted append was accepted without merge_schema=True — "
                "silent schema drift"
            )
        except SchemaEvolutionError:
            pass
        if t.latest_version() != 0:
            raise AssertionError("refused append left a commit behind")
        t.append(v1, merge_schema=True)  # v1: evolved, 3 columns
        if t.read(version=0).columns != ["custkey", "acctbal"]:
            raise AssertionError(
                "time travel does not read the historical column set: "
                f"{t.read(version=0).columns}"
            )
        head = t.read()
        if head.columns != ["custkey", "acctbal", "segment"]:
            raise AssertionError(f"evolved head columns: {head.columns}")
        return head.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# et41 — commit-log checkpointing (sources/txlog.py): snapshot reads
# resolve from the latest CHECKPOINT plus a bounded tail instead of
# walking every commit since v0 — Delta writes a checkpoint every 10
# commits for the same reason: at pipeline commit rates the log walk
# is the metadata bottleneck, and at 100 TB metadata reads ARE the
# table-resolution cost.  Checkpoints are derived data: the in-query
# asserts delete every checkpoint file mid-query and require reads to
# stay bit-identical (entry log is authoritative), pin the exact
# checkpoint set {v4, v8, v12}, time-travel through a checkpoint, and
# drive the change feed across a checkpoint boundary.  The oracle is
# the closed-form final state (12 appended slices + one row-wise
# overwrite bump), independent of any log mechanics.
# ---------------------------------------------------------------------------
@query(
    "et41_log_checkpoint_reads",
    doc="TxTable log checkpointing: reads resolve via latest-checkpoint"
    "+tail, byte-identical with checkpoints deleted (asserted in-query,"
    " as are the checkpoint set, time travel and the cross-boundary "
    "change feed) — value-hash compared against the closed-form final "
    "state",
    oracle="""
    WITH seed AS (
      SELECT DISTINCT c_custkey, c_acctbal FROM customer
      WHERE c_custkey IS NOT NULL
    )
    SELECT c_custkey AS custkey,
           ROUND(ROUND(c_acctbal, 2)
                 + CASE WHEN ((c_custkey % 12) + 12) % 12 = 0
                        THEN 10 ELSE 0 END, 2) AS acctbal,
           CAST(((c_custkey % 12) + 12) % 12 AS INT) AS slice
    FROM seed
    """,
)
def et41_log_checkpoint_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.sources.txlog import TxTable

    seed = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey").isNotNull())
        .select("c_custkey", "c_acctbal")
        .distinct()
        .select(
            F.col("c_custkey").alias("custkey"),
            F.round("c_acctbal", 2).alias("acctbal"),
            F.pmod(F.col("c_custkey"), F.lit(12)).cast("int").alias("slice"),
        )
        .localCheckpoint(eager=True)  # 12 slice scans read this, not parquet
    )
    out_schema = "custkey bigint, acctbal double, slice int"
    if not seed.head(1):
        return spark.createDataFrame([], out_schema)
    slice_counts = {
        r["slice"]: r["n"]
        for r in seed.groupBy("slice").agg(F.count("*").alias("n")).collect()
    }

    with tempfile.TemporaryDirectory(prefix="et41_ckpt_", ignore_cleanup_errors=True) as tmp:
        t = TxTable(spark, os.path.join(tmp, "table"), checkpoint_interval=4)
        for k in range(12):  # v0..v11 — checkpoints land at v4, v8
            t.append(seed.filter(F.col("slice") == k))
        # v12 (→ checkpoint): row-wise overwrite bumping slice 0,
        # resolved THROUGH the v8 checkpoint + 3 tail entries
        rv = t.latest_version()
        bumped = t.read(version=rv).withColumn(
            "acctbal",
            F.round(
                F.col("acctbal")
                + F.when(F.col("slice") == 0, 10).otherwise(0),
                2,
            ),
        )
        t.overwrite(bumped, read_version=rv)

        ckpts = sorted(
            int(n.split(".")[0])
            for n in os.listdir(t.log_dir)
            if n.endswith(".checkpoint.json")
        )
        if ckpts != [4, 8, 12]:
            raise AssertionError(f"checkpoint set {ckpts} != [4, 8, 12]")
        # time travel THROUGH the v4 checkpoint (v6 = slices 0..6)
        expect_v6 = sum(slice_counts.get(k, 0) for k in range(7))
        if t.read(version=6).count() != expect_v6:
            raise AssertionError("time travel via checkpoint mis-resolved")
        # change feed across the v4/v8 boundary: appends of slices 4..9
        expect_feed = sum(slice_counts.get(k, 0) for k in range(4, 10))
        if t.changes(3, 9).count() != expect_feed:
            raise AssertionError("change feed across checkpoint boundary")
        fast = t.read().localCheckpoint(eager=True)

        # checkpoints are DERIVED: deleting every one must not change a
        # single row — the entry log remains authoritative
        for n in list(os.listdir(t.log_dir)):
            if n.endswith(".checkpoint.json"):
                os.remove(os.path.join(t.log_dir, n))
        raw = t.read()
        if fast.exceptAll(raw).count() or raw.exceptAll(fast).count():
            raise AssertionError(
                "checkpointed read diverged from the raw log fold"
            )
        if t.read(version=6).count() != expect_v6:
            raise AssertionError("raw-log time travel diverged")
        return fast.select("custkey", "acctbal", "slice")


# ---------------------------------------------------------------------------
# et42 — data skipping from log statistics (sources/txlog.py::read_where):
# every commit stores per-file [min, max] column envelopes harvested
# from the parquet footers ONCE at write time; a range read then drops
# files whose envelope is disjoint from the predicate using METADATA
# ALONE — Delta's data-skipping design, and at 100 TB the difference
# between scanning the table and scanning the handful of files a
# narrow predicate can touch.  The table is built from range-clustered
# appends (one per ship year) so envelopes are tight — layout is the
# other half of data skipping, exactly as with OPTIMIZE ZORDER.  The
# in-query assert requires the pruned scan to touch strictly fewer
# files than the snapshot holds (when the layout makes pruning
# possible); the value-hash oracle is the plain WHERE-BETWEEN
# aggregate, proving pruning never changes results.
# ---------------------------------------------------------------------------
@query(
    "et42_data_skipping",
    doc="TxTable data skipping: per-file column envelopes in the commit "
    "log prune a date-range scan to the matching files only (asserted "
    "in-query on inputFiles), value-hash compared against the "
    "unpruned WHERE-BETWEEN aggregate",
    oracle="""
    SELECT l_shipdate,
           COUNT(*) AS n_rows,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                         AND TIMESTAMP '1996-03-31 23:59:59'
    GROUP BY l_shipdate
    """,
)
def et42_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from etl_batch_spark.sources.txlog import TxTable

    seed = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    out_schema = (
        "l_shipdate timestamp, n_rows bigint, sum_qty double, "
        "sum_price double"
    )
    if not seed.head(1):
        return spark.createDataFrame([], out_schema)
    seed = seed.localCheckpoint(eager=True)  # year slices re-read this
    years = sorted(
        r["y"]
        for r in seed.select(F.year("l_shipdate").alias("y"))
        .distinct().collect()
        if r["y"] is not None
    )

    with tempfile.TemporaryDirectory(prefix="et42_skip_", ignore_cleanup_errors=True) as tmp:
        t = TxTable(spark, os.path.join(tmp, "table"), checkpoint_interval=4)
        # range-clustered layout in ONE shuffle+commit: tight per-file
        # date envelopes (the layout half of data skipping).  NULL
        # shipdates land in the first range partition; its non-NULL
        # envelope stays sound because NULL rows can never satisfy the
        # range predicate anyway.
        # file count: enough range buckets for fine pruning AND full
        # write parallelism at large SF (14 buckets over 32 cores left
        # most of the cluster idle during the sf10 write)
        n_buckets = max(2 * len(years), 32)
        t.append(
            seed.repartitionByRange(n_buckets, "l_shipdate")
            .sortWithinPartitions("l_shipdate")
        )

        lo = datetime.datetime(1996, 1, 1, 0, 0, 0)
        hi = datetime.datetime(1996, 3, 31, 23, 59, 59)
        pruned = t.read_where(l_shipdate=(lo, hi))
        n_live = len(t._snapshot()[0])  # noqa: SLF001
        n_scanned = len(pruned.inputFiles())
        if len(years) >= 2 and n_live >= 4 and n_scanned >= n_live:
            raise AssertionError(
                f"range read scanned all {n_live} files — the log "
                "envelopes pruned nothing despite a range-clustered "
                "layout"
            )
        out = pruned.groupBy("l_shipdate").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
        return out.localCheckpoint(eager=True)
