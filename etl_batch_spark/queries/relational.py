"""Relational operator surface (SURVEY.md §2.A + §2.D), oracle-checked.

Each query maps a reference operation (cited ``body.sql:<line>``) — or a
brief-required Spark capability absent from the reference — onto idiomatic
DataFrame code, with a DuckDB oracle.  Scale notes per query: at 100 TB
`lineitem`/`orders`/`events` are the big tables; `region`/`nation` are
always broadcast-safe; `customer`/`supplier`/`part` are mid-size (AQE
decides broadcast vs shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from etl_batch_spark.catalog import load_table
from etl_batch_spark.queries.registry import query


# ---------------------------------------------------------------------------
# q01 — flagship: grouped aggregation with filter pushdown (TPC-H Q1 shape).
# Reference analogue: the MIN/MAX/NVL aggregates of body.sql:141-181 writ
# large.  Scale: single shuffle on the two low-cardinality group keys;
# partial aggregation map-side; filter + column pruning reach the scan.
# ---------------------------------------------------------------------------
@query(
    "q01_pricing_summary",
    bench=True,
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           -- product sums accumulate in DECIMAL: the 4dp/6dp true values sit
           -- exactly on ROUND-half boundaries, where a double sum's
           -- order-dependent last ULP flips the cent per engine.  Plain 2dp
           -- sums (sum_base_price) are grid-safe in double and stay native.
           -- DECIMAL(12,2)x(4,2) keeps the triple product within precision
           -- 38 on both engines (18,2 would trigger engine-specific scale
           -- truncation).
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS sum_disc_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                          * (1 - CAST(l_discount AS DECIMAL(4,2)))
                          * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2)
                AS DOUBLE) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                 / COUNT(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # decimal accumulation for the 4dp/6dp product sums (see oracle note)
    disc_price = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(
                F.sum(disc_price * (F.lit(1) + F.col("l_tax").cast("decimal(4,2)"))), 2
            )
            .cast("double")
            .alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(
                F.sum(F.col("l_discount").cast("decimal(4,2)")).cast("double")
                / F.count("l_discount"),
                6,
            ).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# q02 — point lookup: filter + case-insensitive match + SELECT * (A1,
# body.sql:133-143).  Scale: predicate pushdown makes this a pruned scan.
# ---------------------------------------------------------------------------
@query(
    "q02_point_lookup",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment
    FROM customer
    WHERE UPPER(c_mktsegment) = 'BUILDING' AND c_custkey % 100 = 42
    """,
)
def q02_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        (F.upper(F.col("c_mktsegment")) == "BUILDING") & (F.col("c_custkey") % 100 == 42)
    ).select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")


# ---------------------------------------------------------------------------
# q03 — MIN-default resolution (A2, body.sql:141-143): rows matching the
# per-group minimum, via a window (no second scan, one shuffle).
# ---------------------------------------------------------------------------
@query(
    "q03_min_default",
    oracle="""
    SELECT o_orderstatus, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderstatus, o_orderkey, o_totalprice,
             MIN(o_totalprice) OVER (PARTITION BY o_orderstatus) AS min_price
      FROM orders
    ) WHERE o_totalprice = min_price
    """,
)
def q03_min_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus")
    return (
        o.withColumn("min_price", F.min("o_totalprice").over(w))
        .filter(F.col("o_totalprice") == F.col("min_price"))
        .select("o_orderstatus", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# q04 — NVL(MAX(x),0)+1 next-id allocation per key (A3, body.sql:175-181),
# generalized per-customer; LEFT JOIN exercises the NULL->0 path.
# ---------------------------------------------------------------------------
@query(
    "q04_next_run_id",
    oracle="""
    SELECT c.c_custkey,
           CAST(COALESCE(MAX(o.o_orderkey), 0) + 1 AS BIGINT) AS next_id,
           COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def q04_next_run_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            (F.coalesce(F.max("o_orderkey"), F.lit(0)) + 1).cast("long").alias("next_id"),
            F.count("o_orderkey").alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# q05 — date-truncation grouping (A4, body.sql:179): TRUNC(date) ==
# date_trunc('day'), daily rollup of the events stream.
# ---------------------------------------------------------------------------
@query(
    "q05_date_trunc_daily",
    bench=True,
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q05_date_trunc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# q06 — latest-run-per-key (A5/A11, body.sql:158-165, 224-237): the
# reference's "latest RUNNING row" becomes row_number() over a key window.
# This is also the engine's batch_monitor latest-state-view pattern.
# NB body.sql:158-165 applies ROWNUM before ORDER BY (Oracle quirk that
# returns an arbitrary row); we implement the evident intent (true latest).
# ---------------------------------------------------------------------------
@query(
    "q06_latest_order_per_customer",
    bench=True,
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def q06_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# q07 / q08 — existence probes (A6, body.sql:224-247) as semi / anti joins.
# Scale: Spark plans LeftSemi/LeftAnti — no fan-out, no duplicate rows.
# ---------------------------------------------------------------------------
@query(
    "q07_exists_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
    """,
)
def q07_exists_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "q08_not_exists_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q08_not_exists_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# q09 — the dependency-check loop join (A7, body.sql:258-331) done right:
# the reference's row-at-a-time cursor loop collapses into one declarative
# multi-way join (TPC-H Q5 shape).  Scale: region/nation broadcast;
# lineitem⋈orders⋈customer shuffle on their keys; AQE reorders/adjusts.
# ---------------------------------------------------------------------------
@query(
    "q09_multiway_join_revenue",
    bench=True,
    oracle="""
    SELECT r.r_name, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY r.r_name, n.n_name
    """,
)
def q09_multiway_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q10 — DECODE multi-way conditional (A8, body.sql:271-279): the reference's
# run_status × dependency_type decision matrix as a chained F.when.
# ---------------------------------------------------------------------------
@query(
    "q10_decode_status_matrix",
    oracle="""
    SELECT CASE
             WHEN o_orderstatus = 'F' THEN 0
             WHEN o_orderstatus = 'P' THEN 1
             WHEN o_orderpriority = '1-URGENT' THEN 2
             WHEN o_orderpriority = '2-HIGH' THEN 0
             ELSE 3
           END AS status_code,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def q10_decode_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    code = (
        F.when(F.col("o_orderstatus") == "F", 0)
        .when(F.col("o_orderstatus") == "P", 1)
        .when(F.col("o_orderpriority") == "1-URGENT", 2)
        .when(F.col("o_orderpriority") == "2-HIGH", 0)
        .otherwise(3)
    )
    return (
        o.groupBy(code.alias("status_code"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


# ---------------------------------------------------------------------------
# q11 — UPPER+SUBSTR+INSTR prefix matching (A9, body.sql:283-322): the
# parameter-prefix compare re-expressed over part names.
# ---------------------------------------------------------------------------
@query(
    "q11_prefix_match",
    oracle="""
    SELECT UPPER(SUBSTR(p_name, 1, INSTR(p_name, ' ') - 1)) AS first_word,
           COUNT(*) AS n_parts,
           -- identical-division avg (see q01 avg_disc): decimal sum then
           -- ONE double division — cents/count can land exactly on the
           -- 4dp half boundary (e.g. count=8) where double-sum order flips
           ROUND(CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE)
                 / COUNT(p_retailprice), 4) AS avg_price
    FROM part
    WHERE INSTR(p_name, ' ') > 0
    GROUP BY 1
    """,
)
def q11_prefix_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    first_word = F.upper(F.expr("substr(p_name, 1, instr(p_name, ' ') - 1)"))
    return (
        p.filter(F.instr(F.col("p_name"), " ") > 0)
        .groupBy(first_word.alias("first_word"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(
                F.sum(F.col("p_retailprice").cast("decimal(12,2)")).cast("double")
                / F.count("p_retailprice"),
                4,
            ).alias("avg_price"),
        )
    )


# ---------------------------------------------------------------------------
# q12 — ORDER BY DESC + limit top-k (A10/A11, body.sql:158-165): Spark
# plans TakeOrderedAndProject — no global sort materialization.
# ---------------------------------------------------------------------------
@query(
    "q12_topk_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q12_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# q13 — UNION ALL of filtered branches + ORDER BY (A12, body.sql:1172-1197).
# ---------------------------------------------------------------------------
@query(
    "q13_union_all_branches",
    oracle="""
    SELECT p_partkey, p_name, 'small' AS branch FROM part WHERE p_size < 10
    UNION ALL
    SELECT p_partkey, p_name, 'economy' AS branch FROM part WHERE p_type = 'ECONOMY'
    UNION ALL
    SELECT p_partkey, p_name, 'brand5' AS branch FROM part WHERE p_brand = 'Brand#5'
    """,
)
def q13_union_all_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    b1 = p.filter(F.col("p_size") < 10).select("p_partkey", "p_name", F.lit("small").alias("branch"))
    b2 = p.filter(F.col("p_type") == "ECONOMY").select(
        "p_partkey", "p_name", F.lit("economy").alias("branch")
    )
    b3 = p.filter(F.col("p_brand") == "Brand#5").select(
        "p_partkey", "p_name", F.lit("brand5").alias("branch")
    )
    return b1.unionAll(b2).unionAll(b3)


# ---------------------------------------------------------------------------
# q14 — ordered string aggregation (A13, body.sql:1212-1224): the loader's
# space-joined file list as sort_array(collect_list) + array_join.  Bounded
# per group (suppliers per nation), so no collect_list blowup at scale.
# ---------------------------------------------------------------------------
@query(
    "q14_string_agg_ordered",
    oracle="""
    SELECT n.n_name,
           STRING_AGG(s.s_name, ' ' ORDER BY s.s_name) AS supplier_list,
           COUNT(*) AS n_suppliers
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q14_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), " ").alias("supplier_list"),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


# ---------------------------------------------------------------------------
# q15 — window suite: running totals, lag/lead, rank (SURVEY §2.D).
# ---------------------------------------------------------------------------
@query(
    "q15_window_running",
    bench=True,
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_spend,
           LAG(o_orderkey) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey) AS prev_orderkey,
           RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
             AS spend_rank
    FROM orders
    """,
)
def q15_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    wt = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(
            F.sum("o_totalprice").over(wt.rowsBetween(W.unboundedPreceding, W.currentRow)), 2
        ).alias("running_spend"),
        F.lag("o_orderkey").over(wt).alias("prev_orderkey"),
        F.rank().over(wr).cast("long").alias("spend_rank"),
    )


# ---------------------------------------------------------------------------
# q16 / q17 — ROLLUP and CUBE grouping sets (SURVEY §2.D).
# ---------------------------------------------------------------------------
@query(
    "q16_rollup",
    oracle="""
    SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_balance
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def q16_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.grouping import ensure_grand_row

    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    rolled = joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )
    # SQL mandates the () grand-total row even over empty input
    return ensure_grand_row(rolled, joined, {"n_customers": 0})


@query(
    "q17_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q17_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.grouping import ensure_grand_row

    li = load_table(spark, sf_dir, "lineitem")
    cubed = li.cube("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n_lines")
    )
    # SQL mandates the () grand-total row even over empty input
    return ensure_grand_row(cubed, li, {"n_lines": 0})


# ---------------------------------------------------------------------------
# q18 / q19 — set operations (SURVEY §2.D): INTERSECT / EXCEPT.
# ---------------------------------------------------------------------------
@query(
    "q18_intersect",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def q18_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    ).select("o_custkey")
    y97 = o.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_custkey")
    return y95.intersect(y97)


@query(
    "q19_except",
    oracle="""
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    """,
)
def q19_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    recent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    # subtract == EXCEPT DISTINCT (set semantics).  exceptAll().distinct()
    # is NOT equivalent under duplicate left rows: a key present twice on
    # the left and once on the right survives exceptAll with one copy,
    # where set-EXCEPT removes it entirely (caught by the dup-row sweep).
    return c.subtract(recent)


# ---------------------------------------------------------------------------
# q20 — JSON extraction over the events stream (SURVEY §2.D; events.props).
# ---------------------------------------------------------------------------
@query(
    "q20_json_props",
    bench=True,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q20_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# q21 — array explode / word histogram (SURVEY §2.D array fns).  Scale:
# explode fans out, but the downstream agg is partial-aggregated map-side.
# ---------------------------------------------------------------------------
@query(
    "q21_explode_words",
    oracle="""
    SELECT word, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, UNNEST(string_split_regex(LOWER(text), '[\\s\\x0B]+')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    HAVING COUNT(*) > 5
    """,
)
def q21_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split(F.lower("text"), "\\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") > 5)
    )


# ---------------------------------------------------------------------------
# q22 — AS-OF join (SURVEY §2.D): latest 'click' strictly before each
# 'purchase' per user.  Scale-first formulation: a union + one window over
# (user, ts) — a single shuffle, instead of an inequality join that would
# explode.  DuckDB oracle uses the same window formulation for tie parity.
# ---------------------------------------------------------------------------
@query(
    "q22_asof_join",
    bench=True,
    oracle="""
    SELECT event_id, user_id, ts, last_click_ts
    FROM (
      SELECT event_id, user_id, ts, event_type,
             LAST_VALUE(click_ts IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
      FROM (
        SELECT event_id, user_id, ts, event_type,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts
        FROM events WHERE event_type IN ('click', 'purchase')
      )
    ) WHERE event_type = 'purchase'
    """,
)
def q22_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase"))
    tagged = e.withColumn(
        "click_ts", F.when(F.col("event_type") == "click", F.col("ts"))
    )
    # NULLS FIRST pinned on both sides (DuckDB defaults to NULLS LAST):
    # a timeless purchase then has an empty preceding frame — "no last
    # click" — instead of inheriting the user's final click
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc_nulls_first(), "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        tagged.withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


# ---------------------------------------------------------------------------
# q23 — range join against a small banded dimension (SURVEY §2.D theta
# join).  Scale: the bands table is tiny -> broadcast nested-loop, which is
# the right plan; the big side streams through once.
# ---------------------------------------------------------------------------
@query(
    "q23_range_join_bands",
    oracle="""
    SELECT b.band_name, COUNT(*) AS n_events, ROUND(SUM(e.value), 2) AS sum_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 100.0), ('mid', 100.0, 500.0), ('high', 500.0, 1e18))
         AS b(band_name, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band_name
    """,
)
def q23_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 100.0), ("mid", 100.0, 500.0), ("high", 500.0, 1e18)],
        "band_name string, lo double, hi double",
    )
    return (
        e.join(F.broadcast(bands), (e.value >= bands.lo) & (e.value < bands.hi))
        .groupBy("band_name")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# ---------------------------------------------------------------------------
# q24 — full outer join of two aggregates (SURVEY §2.D join matrix).
# ---------------------------------------------------------------------------
@query(
    "q24_full_outer_join",
    oracle="""
    SELECT COALESCE(cu.nationkey, su.nationkey) AS nationkey,
           CAST(COALESCE(cu.n_customers, 0) AS BIGINT) AS n_customers,
           CAST(COALESCE(su.n_suppliers, 0) AS BIGINT) AS n_suppliers
    FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
          FROM customer GROUP BY 1) cu
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
          FROM supplier GROUP BY 1) su
      ON cu.nationkey = su.nationkey
    """,
)
def q24_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    su = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        cu.join(su, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.coalesce("n_customers", F.lit(0)).cast("long").alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).cast("long").alias("n_suppliers"),
        )
    )


# ---------------------------------------------------------------------------
# q25 — pivot (conditional aggregation): Spark's pivot operator vs the
# oracle's explicit CASE aggregation (identical result contract).
# ---------------------------------------------------------------------------
@query(
    "q25_pivot_linestatus",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
           ROUND(SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q25_pivot_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


# ---------------------------------------------------------------------------
# q26 — exact percentiles (SURVEY §2.D): Spark `percentile` (exact,
# interpolated) matches DuckDB quantile_cont.
# ---------------------------------------------------------------------------
@query(
    "q26_percentiles",
    oracle="""
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q26_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


# ---------------------------------------------------------------------------
# q27 — sessionization (gap > 30 min) via lag + cumulative flag sum: the
# standard scalable pattern (one shuffle on user_id, two windows).
# ---------------------------------------------------------------------------
@query(
    "q27_sessionize",
    bench=True,
    oracle="""
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, ROUND(SUM(value), 2) AS session_value
    FROM (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM (
        SELECT user_id, ts, value, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS is_new
        -- a timeless event belongs to no session (pinned by exclusion;
        -- engines disagree on where NULL ts sorts)
        FROM events WHERE ts IS NOT NULL
      )
    )
    GROUP BY user_id, session_id
    """,
)
def q27_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timeless events are off the session timeline — see the oracle note
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_us > 1_800_000_000), 1).otherwise(0)
    sess = (
        e.withColumn("is_new", is_new)
        .withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
    )


# ---------------------------------------------------------------------------
# q35 — shipping-priority top-k (TPC-H Q3 shape): selective dimension
# filter + fact join + agg + TakeOrdered.  Scale: customer filter cuts the
# build side before the join; top-k never globally sorts.
# ---------------------------------------------------------------------------
@query(
    "q35_shipping_priority",
    bench=True,
    oracle="""
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def q35_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))), 2).cast("double").alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


# ---------------------------------------------------------------------------
# q36 — forecasting-revenue scan (TPC-H Q6 shape): the pure
# filter-aggregate — every predicate must reach the parquet scan.
# ---------------------------------------------------------------------------
@query(
    "q36_forecast_revenue",
    bench=True,
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2))), 2) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 24
    """,
)
def q36_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.09))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(12,2)")
                    * F.col("l_discount").cast("decimal(4,2)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# q37 — from_json to typed MapType (vs q20's get_json_object path):
# schema-on-read for the events.props payload.
# ---------------------------------------------------------------------------
@query(
    "q37_from_json_map",
    oracle="""
    SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket,
           COUNT(*) AS n_events,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_distinct_k
    FROM events
    GROUP BY 1
    """,
)
def q37_from_json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    props = F.from_json("props", "map<string,bigint>")
    k = props.getItem("k")
    return (
        e.groupBy((F.col("user_id") % 10).cast("long").alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(k), 4).alias("avg_k"),
            F.countDistinct(k).alias("n_distinct_k"),
        )
    )


# ---------------------------------------------------------------------------
# q38 — approximate aggregates (SURVEY §2.D): HLL distinct + quantile
# sketch.  Round-5 re-expression on the engine-portable sketches
# (operators/sketch.py — the et07/et24 pattern): deterministic
# md5-register HLL for both distinct estimates and a fixed-width
# histogram for the median, so the WHOLE query is exactly
# oracle-checkable instead of rows-only.
#
# Plan shape (the 100 TB story): ONE lineitem scan — each row explodes
# into its three sketch coordinates (orderkey register, partkey
# register, price bin), ONE shuffle partial-aggregates them to at most
# flags × (256 + 256 + bins) register rows, and everything after is
# arithmetic on that bounded table.  Exact countDistinct / percentile
# ride along (second scan) for calibration, like et23/et24.
# ---------------------------------------------------------------------------
@query(
    "q38_approx_aggregates",
    doc="portable-sketch approx aggregates: HLL distinct orders/parts + "
    "histogram median price per returnflag, exact values alongside "
    "(one scan, one shuffle for all three sketches)",
    oracle="""
    WITH coords AS (
      SELECT l_returnflag, 'o' AS kind, h % 4096 AS coord,
             CASE WHEN h // 4096 = 0 THEN 49
                  ELSE 49 - length(bin(h // 4096)) END AS v
      FROM (SELECT l_returnflag,
                   (('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))::BIGINT) AS h
            FROM lineitem WHERE l_orderkey IS NOT NULL)
      UNION ALL
      SELECT l_returnflag, 'p', h % 4096,
             CASE WHEN h // 4096 = 0 THEN 49
                  ELSE 49 - length(bin(h // 4096)) END
      FROM (SELECT l_returnflag,
                   (('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15))::BIGINT) AS h
            FROM lineitem WHERE l_partkey IS NOT NULL)
      UNION ALL
      SELECT l_returnflag, 'h',
             CAST(FLOOR(l_extendedprice / 100.0) AS BIGINT), 1
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ),
    regs AS (
      SELECT l_returnflag, kind, coord, MAX(v) AS max_v, COUNT(*) AS cnt
      FROM coords GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT *,
             SUM(cnt) OVER (PARTITION BY l_returnflag, kind ORDER BY coord) AS cum,
             SUM(cnt) OVER (PARTITION BY l_returnflag, kind) AS total
      FROM regs
    ),
    per_kind AS (
      SELECT l_returnflag, kind,
             COUNT(*) AS n_present,
             SUM(pow(2.0, -max_v)) AS s_present,
             MAX(CASE WHEN kind = 'h' AND cum >= 0.5 * total
                           AND cum - cnt < 0.5 * total
                      THEN ROUND(coord * 100.0
                                 + 100.0 * (0.5 * total - (cum - cnt)) / cnt, 4)
                 END) AS median_est
      FROM cum GROUP BY 1, 2
    ),
    est AS (
      SELECT l_returnflag, kind, median_est,
             CASE WHEN (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
                         / ((4096 - n_present) * 1.0 + s_present) <= 10240.0
                       AND 4096 - n_present > 0
                  THEN ROUND(4096.0 * ln(4096.0 / (4096 - n_present)), 2)
                  ELSE ROUND((0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0
                             / ((4096 - n_present) * 1.0 + s_present), 2)
             END AS est_distinct
      FROM per_kind
    ),
    sk AS (
      SELECT l_returnflag,
             MAX(CASE WHEN kind = 'o' THEN est_distinct END) AS approx_orders,
             MAX(CASE WHEN kind = 'p' THEN est_distinct END) AS approx_parts,
             MAX(CASE WHEN kind = 'h' THEN median_est END) AS approx_median_price
      FROM est GROUP BY 1
    ),
    exact AS (
      SELECT l_returnflag,
             COUNT(DISTINCT l_orderkey) AS exact_orders,
             COUNT(DISTINCT l_partkey) AS exact_parts,
             ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median_price
      FROM lineitem GROUP BY 1
    )
    SELECT x.l_returnflag, s.approx_orders, x.exact_orders,
           s.approx_parts, x.exact_parts,
           s.approx_median_price, x.exact_median_price
    FROM exact x LEFT JOIN sk s
      ON x.l_returnflag IS NOT DISTINCT FROM s.l_returnflag
    """,
)
def q38_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from etl_batch_spark.llmops.dedup import H60

    li = load_table(spark, sf_dir, "lineitem")
    # p=12 (m=4096 registers, ~1.6% std error) — the precision most
    # engines default to; the module default p=8 stays for the rollup
    # queries whose register tables must be tiny.
    # Hash ONCE per key into a named column, then derive (idx, rho)
    # from it: hashing the key inside BOTH the idx and rho expressions
    # would embed the md5+conv twice, and Spark does not CSE across
    # them — 4 hashes/row instead of 2 (measured ~2× on the projection
    # stage, which dominates this query).
    h60 = H60.format(expr="cast({key} as string)")

    def sk_struct(kind: str, coord, v):
        return F.struct(
            F.lit(kind).alias("kind"),
            coord.cast("bigint").alias("coord"),
            v.cast("bigint").alias("v"),
        )

    def reg(h: str):
        idx = F.expr(f"pmod({h}, 4096)")
        rho = F.expr(
            f"case when {h} div 4096 = 0 then 49"
            f" else 49 - length(bin({h} div 4096)) end"
        )
        return idx, rho

    hashed = li.select(
        "l_returnflag",
        F.expr(h60.format(key="l_orderkey")).alias("ho"),
        F.expr(h60.format(key="l_partkey")).alias("hp"),
        F.floor(F.col("l_extendedprice") / F.lit(100.0))
        .cast("bigint")
        .alias("price_bin"),
    )
    o_idx, o_rho = reg("ho")
    p_idx, p_rho = reg("hp")
    coords = (
        hashed.select(
            "l_returnflag",
            F.explode(
                F.array(
                    sk_struct("o", o_idx, o_rho),
                    sk_struct("p", p_idx, p_rho),
                    sk_struct("h", F.col("price_bin"), F.lit(1)),
                )
            ).alias("s"),
        )
        .select("l_returnflag", "s.kind", "s.coord", "s.v")
        # NULL key / NULL price rows are outside their sketch (aggregate
        # semantics) — md5(NULL) is NULL, and a NULL bin would corrupt
        # the histogram's cumulative sum
        .filter(F.col("coord").isNotNull())
    )
    regs = coords.groupBy("l_returnflag", "kind", "coord").agg(
        F.max("v").alias("max_v"), F.count(F.lit(1)).alias("cnt")
    )
    w_cum = Window.partitionBy("l_returnflag", "kind").orderBy("coord")
    w_all = Window.partitionBy("l_returnflag", "kind")
    target = F.lit(0.5) * F.col("total")
    cum = (
        regs.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("total", F.sum("cnt").over(w_all))
    )
    # the (unique) bin where the running count first reaches the target,
    # interpolated linearly inside it — hist_quantiles' estimator
    is_pick = (F.col("cum") >= target) & (F.col("cum") - F.col("cnt") < target)
    interp = F.col("coord") * F.lit(100.0) + F.lit(100.0) * (
        target - (F.col("cum") - F.col("cnt"))
    ) / F.col("cnt")
    per_kind = cum.groupBy("l_returnflag", "kind").agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.expr("pow(2.0, -max_v)")).alias("s_present"),
        F.max(
            F.when((F.col("kind") == "h") & is_pick, F.round(interp, 4))
        ).alias("median_est"),
    )
    # hll_estimate's estimator at m=4096, inline so the three sketch
    # kinds share one aggregation tree (kind 'h' rows never take the
    # HLL branch)
    s = F.expr("(4096 - n_present) * 1.0") + F.col("s_present")
    e_raw = F.expr("0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0") / s
    v_zero = F.expr("4096 - n_present")
    linear = (e_raw <= F.lit(10240.0)) & (v_zero > 0)
    est_distinct = F.round(
        F.when(linear, F.expr("4096.0 * ln(4096.0 / (4096 - n_present))")).otherwise(
            e_raw
        ),
        2,
    )
    sk = (
        per_kind.select("l_returnflag", "kind", "median_est",
                        est_distinct.alias("est_distinct"))
        .groupBy("l_returnflag")
        .agg(
            F.max(F.when(F.col("kind") == "o", F.col("est_distinct"))).alias(
                "approx_orders"
            ),
            F.max(F.when(F.col("kind") == "p", F.col("est_distinct"))).alias(
                "approx_parts"
            ),
            F.max(F.when(F.col("kind") == "h", F.col("median_est"))).alias(
                "approx_median_price"
            ),
        )
    )
    # exact calibration in TWO aggregations, not one: percentile is a
    # TypedImperativeAggregate, and mixing it with the two DISTINCT
    # aggregates forces a single SortAggregate over the 3×-EXPANDed
    # rows (measured 4.9 s vs 2.1 s split at sf0.1) — at scale, one
    # extra 2-column pruned scan beats sorting 3× the rows
    exact_d = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    exact_m = li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias(
            "exact_median_price"
        ),
    )
    d, m = exact_d.alias("d"), exact_m.alias("m")
    exact = d.join(
        m, F.col("d.l_returnflag").eqNullSafe(F.col("m.l_returnflag"))
    ).select("d.l_returnflag", "d.exact_orders", "d.exact_parts",
             "m.exact_median_price")
    x, e = exact.alias("x"), sk.alias("e")
    return x.join(
        e, F.col("x.l_returnflag").eqNullSafe(F.col("e.l_returnflag")), "left"
    ).select(
        "x.l_returnflag",
        "e.approx_orders",
        "x.exact_orders",
        "e.approx_parts",
        "x.exact_parts",
        "e.approx_median_price",
        "x.exact_median_price",
    )


# ---------------------------------------------------------------------------
# q39 — exact decimal aggregation: money math without float drift.
# The accumulation is DecimalType end-to-end (exact at any group size),
# but the OUTPUT edge is a string: raw DecimalType output columns are
# not canonicalizer-safe (round 3: rows+schema matched, driver hash did
# not, while exact local parity passed).  CAST(decimal(18,2) AS STRING)
# renders identically ("1234.50") on Spark and DuckDB, so the hash is
# bit-exact while the math stays decimal-exact internally.
# ---------------------------------------------------------------------------
@query(
    "q39_decimal_exact",
    oracle="""
    SELECT o_orderstatus,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                AS VARCHAR) AS total,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q39_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("string")
            .alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# q40 — GROUPING SETS (beyond q16 rollup / q17 cube): explicit set list
# with grouping() flags to disambiguate NULL keys from subtotal rows.
# ---------------------------------------------------------------------------
@query(
    "q40_grouping_sets",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def q40_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.grouping import ensure_grand_row

    li = load_table(spark, sf_dir, "lineitem")
    sets = (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
            .cast("long")
            .alias("gid"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "sum_qty",
            "n_rows",
        )
    )
    # SQL mandates the () member's row even over empty input: both
    # GROUPING flags are 1 there, so gid = 3 and the keys coalesce
    return ensure_grand_row(
        sets, li, {"returnflag": "ALL", "linestatus": "ALL", "gid": 3, "n_rows": 0}
    )


# ---------------------------------------------------------------------------
# q41 — lag/lead deltas: per-customer order history with previous/next
# order price and gap days.  One shuffle on o_custkey serves all three
# window functions (same partitioning).
# ---------------------------------------------------------------------------
@query(
    "q41_lag_lead",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(o_totalprice - LAG(o_totalprice) OVER w, 2) AS delta_prev,
           ROUND(LEAD(o_totalprice) OVER w - o_totalprice, 2) AS delta_next,
           CAST(date_diff('day',
                          LAG(o_orderdate) OVER w,
                          o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q41_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias("delta_prev"),
        F.round(F.lead("o_totalprice").over(w) - F.col("o_totalprice"), 2).alias("delta_next"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("long").alias("days_since_prev"),
    )


# ---------------------------------------------------------------------------
# q42 — correlated-aggregate filter (TPC-H Q17 shape): lines whose
# quantity is below 20% of their part's average.  The per-part average
# is a broadcast-able aggregate (one row per part), so at 100 TB the
# big-table side shuffles once on l_partkey for the agg and AQE
# broadcasts the result back against the pruned scan.  The 0.2*avg
# limit is rounded on both sides: avg over doubles is summation-order
# dependent and an unrounded float boundary would flip rows.
# ---------------------------------------------------------------------------
@query(
    "q42_small_qty_revenue",
    oracle="""
    -- decimal sum then ONE double division: cents/7 can land exactly on
    -- the half-cent where double-sum order flips the rounding per engine
    SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                 / 7.0, 2) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, ROUND(0.2 * AVG(l_quantity), 4) AS qty_lim
          FROM lineitem GROUP BY l_partkey) t
      ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23' AND l.l_quantity < t.qty_lim
    """,
)
def q42_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    lim = li.groupBy("l_partkey").agg(
        F.round(0.2 * F.avg("l_quantity"), 4).alias("qty_lim")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(lim, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_lim"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double")
                / 7.0,
                2,
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# q43 — left-join count distribution (TPC-H Q13 shape): how many
# customers have k non-urgent orders, including k=0.  The join condition
# carries an extra non-key predicate (priority filter belongs in the
# join, not a WHERE — a WHERE would drop the zero-order customers).
# Scale: shuffle join on custkey, then a tiny re-agg on the count.
# ---------------------------------------------------------------------------
@query(
    "q43_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q43_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (o.o_custkey == c.c_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# q44 — HAVING over a big aggregate feeding a join (TPC-H Q18 shape):
# orders whose total quantity exceeds 300, with customer context.
# Scale: the HAVING shrinks the agg output to a sliver, so the
# subsequent joins broadcast it; the lineitem agg itself is the only
# full shuffle.
# ---------------------------------------------------------------------------
@query(
    "q44_large_quantity_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           ROUND(o.o_totalprice, 2) AS o_totalprice,
           SUM(l.l_quantity) AS sum_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q44_large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_all"))
        .filter(F.col("sum_qty_all") > 300)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big), "l_orderkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .withColumn("o_totalprice", F.round("o_totalprice", 2))
    )


# ---------------------------------------------------------------------------
# q45 — six-way join with a cross-table equality (TPC-H Q5 shape):
# revenue by nation for one region-year where the supplying nation is
# the customer's nation.  region/nation broadcast; the
# customer⋈orders⋈lineitem⋈supplier chain shuffles on its keys and the
# extra c_nationkey = s_nationkey predicate rides the supplier join.
# ---------------------------------------------------------------------------
@query(
    "q45_local_supplier_volume",
    bench=True,
    oracle="""
    SELECT n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def q45_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))), 2
            ).cast("double").alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# q46 — disjunction of conjunctions (TPC-H Q19 shape): the OR-of-ANDs
# predicate spans both join sides.  Catalyst extracts the common
# part-side conjuncts (brand/size) below the join and keeps the mixed
# residual as the join filter, so the broadcast hash join stays tight.
# ---------------------------------------------------------------------------
@query(
    "q46_disjunctive_revenue",
    oracle="""
    SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q46_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))), 2
            ).cast("double").alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# q47 — correlated EXISTS + NOT EXISTS composition (TPC-H Q21 shape):
# suppliers whose returned ('R') lines belong to orders that other
# suppliers also shipped — an exists(semi) and a not-exists(anti) over
# the same key with different correlation predicates.  Scale: both
# probes are the already-shuffled lineitem keyed on l_orderkey, so AQE
# reuses one exchange; the inequality correlation (l_suppkey <>) rides
# the join condition, never a cross join.
# ---------------------------------------------------------------------------
@query(
    "q47_multi_supplier_returns",
    bench=True,
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey AND l1.l_returnflag = 'R'
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s.s_name
    """,
)
def q47_multi_supplier_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    cand = l1.join(
        l2, (F.col("o2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")), "left_semi"
    ).join(
        l3, (F.col("o3") == F.col("l_orderkey")) & (F.col("s3") != F.col("l_suppkey")), "left_anti"
    )
    return (
        cand.join(s, cand.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# ---------------------------------------------------------------------------
# q48 — scalar-aggregate threshold + anti join (TPC-H Q22 shape):
# well-funded customers (acctbal above the positive-balance average)
# with no urgent orders.  The global average is a one-row broadcast; the
# anti join against orders is the only real shuffle.
# ---------------------------------------------------------------------------
@query(
    "q48_dormant_rich_customers",
    oracle="""
    SELECT c.c_nationkey,
           COUNT(*) AS numcust,
           ROUND(SUM(c.c_acctbal), 2) AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        -- identical-division avg: a balance can sit EXACTLY on the true
        -- average (cents/count), where each engine's double-sum error
        -- flips the strict > differently; decimal sum + one double
        -- division makes the threshold bit-identical
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
               / COUNT(c_acctbal)
        FROM customer WHERE c_acctbal > 0.0
      )
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
)
def q48_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        # identical-division avg (see oracle note)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(12,2)")).cast("double")
                / F.count("c_acctbal")
            ).alias("avg_bal")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            o.filter(F.col("o_orderpriority") == "1-URGENT"),
            c.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# q49 — statistical aggregates (stddev/var/corr/covar): one partial-agg
# shuffle; all moments combine map-side (Welford-style merge in both
# engines).  Rounded at 4dp — moment sums are summation-order dependent
# in the last ulps.
# ---------------------------------------------------------------------------
@query(
    "q49_stats_aggregates",
    oracle="""
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS sd_price,
           ROUND(VAR_SAMP(l_discount), 4) AS var_disc,
           ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS covar_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q49_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.var_samp("l_discount"), 4).alias("var_disc"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
    )


# ---------------------------------------------------------------------------
# q50 — ranking-window family (ntile / percent_rank / cume_dist) over one
# partitioning: all four functions share the single shuffle+sort on
# (o_custkey, o_totalprice).
# ---------------------------------------------------------------------------
@query(
    "q50_ranking_windows",
    bench=True,
    oracle="""
    SELECT o_orderkey, o_custkey,
           NTILE(4) OVER w AS price_quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           DENSE_RANK() OVER w AS drank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice NULLS LAST, o_orderkey)
    """,
)
def q50_ranking_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    # NULLS LAST pinned on both sides: Spark defaults ASC to nulls FIRST
    # where DuckDB defaults to nulls LAST — an unpinned ranking diverges
    # the moment the ordering column is nullable (gen_subset --nulls)
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").asc_nulls_last(), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).cast("long").alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.dense_rank().over(w).cast("long").alias("drank"),
    )


# ---------------------------------------------------------------------------
# q51 — calendar densification (gap fill): one row per (priority, day)
# for a month even when no orders landed.  The calendar is a per-row
# `sequence()` explode crossed with the tiny priority dim — generated,
# never scanned; the left join fills gaps with 0.  At 100 TB the
# calendar side stays O(days × dims) — broadcast — while the fact agg
# shuffles once.
# ---------------------------------------------------------------------------
@query(
    "q51_daily_gap_fill",
    oracle="""
    WITH cal AS (
      SELECT p.o_orderpriority, d.day
      FROM (SELECT DISTINCT o_orderpriority FROM orders) p
      CROSS JOIN (SELECT UNNEST(generate_series(DATE '1996-01-01',
                                                DATE '1996-01-31',
                                                INTERVAL 1 DAY))::DATE AS day) d
    ),
    rev AS (
      SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
             ROUND(SUM(o_totalprice), 2) AS revenue, COUNT(*) AS n_orders
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-02-01'
      GROUP BY 1, 2
    )
    SELECT cal.o_orderpriority, cal.day,
           COALESCE(rev.revenue, 0.0) AS revenue,
           COALESCE(rev.n_orders, 0) AS n_orders
    FROM cal LEFT JOIN rev
      ON rev.o_orderpriority = cal.o_orderpriority AND rev.day = cal.day
    """,
)
def q51_daily_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cal = (
        o.select("o_orderpriority")
        .distinct()
        .crossJoin(
            spark.range(1).select(
                F.explode(
                    F.sequence(
                        F.lit("1996-01-01").cast("date"),
                        F.lit("1996-01-31").cast("date"),
                    )
                ).alias("day")
            )
        )
    )
    rev = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp"))
        )
        .groupBy("o_orderpriority", F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return (
        cal.join(rev, ["o_orderpriority", "day"], "left")
        .select(
            "o_orderpriority",
            "day",
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# q52 — forward fill (LAST_VALUE ... IGNORE NULLS): carry the most
# recent finalized price forward across each customer's order history.
# One shuffle+sort on (custkey, date) serves the running frame.
# ---------------------------------------------------------------------------
@query(
    "q52_forward_fill",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(LAST_VALUE(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
                            IGNORE NULLS)
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS last_final_price
    FROM orders
    """,
)
def q52_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    final_price = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.last(final_price, ignorenulls=True).over(w), 2).alias(
            "last_final_price"
        ),
    )


# ---------------------------------------------------------------------------
# q53 — min-cost supplier lookup (TPC-H Q2 shape, adapted: no partsupp
# table in this schema, so lineitem serves as the part×supplier offer
# relation).  Correlated-MIN subquery becomes agg + equi-join back.
# Scale: one shuffle on (partkey, suppkey) builds offers; the per-part
# best re-agg is map-side-partial on the same exchange; dims broadcast.
# ---------------------------------------------------------------------------
@query(
    "q53_min_cost_supplier",
    oracle="""
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / NULLIF(l_quantity, 0)) AS unit_cost
      FROM lineitem
      GROUP BY 1, 2
    ),
    best AS (
      SELECT l_partkey, MIN(unit_cost) AS best_cost FROM offers GROUP BY 1
    )
    SELECT p.p_partkey, p.p_type, s.s_name, n.n_name, s.s_acctbal,
           -- +1e-9 before rounding: unit costs land on exact .xxxx5 halves
           -- at larger SFs, where decimal-string HALF_UP (Spark) and raw-
           -- double half-away (DuckDB) disagree (first seen at sf0.1); the
           -- nudge rounds boundary values consistently up on every engine
           ROUND(b.best_cost + 1e-9, 4) AS best_unit_cost
    FROM offers o
    JOIN best b ON o.l_partkey = b.l_partkey AND o.unit_cost = b.best_cost
    JOIN part p ON p.p_partkey = o.l_partkey
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size < 10 AND p.p_type = 'ECONOMY' AND r.r_name = 'EUROPE'
    """,
)
def q53_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    unit = F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0.0))
    offers = li.groupBy("l_partkey", "l_suppkey").agg(F.min(unit).alias("unit_cost"))
    best = offers.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        offers.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .join(p.filter((F.col("p_size") < 10) & (F.col("p_type") == "ECONOMY")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "p_partkey", "p_type", "s_name", "n_name", "s_acctbal",
            F.round(F.col("best_cost") + F.lit(1e-9), 4).alias("best_unit_cost"),
        )
    )


# ---------------------------------------------------------------------------
# q54 — order-priority checking (TPC-H Q4 shape): orders in a quarter
# with at least one returned line, counted per priority.  EXISTS is a
# left-semi join; the date filter prunes orders before the shuffle.
# ---------------------------------------------------------------------------
@query(
    "q54_order_priority_checking",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q54_order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .join(
            li.filter(F.col("l_returnflag") == "R"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q55 — volume shipping between two nations (TPC-H Q7 shape): revenue
# between NATION_1 and NATION_2 in either direction, by year.  The
# nation pair filter lands on broadcast dims; lineitem⋈orders is the
# one big shuffle, customer/supplier mid-size (AQE picks broadcast).
# ---------------------------------------------------------------------------
@query(
    "q55_volume_shipping",
    bench=True,
    oracle="""
    SELECT supp_nation, cust_nation, l_year, CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS volume
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
      JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1995-01-01'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q55_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))), 2
            ).cast("double").alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# q56 — national market share (TPC-H Q8 shape): NATION_3 suppliers'
# share of EUROPE's ECONOMY-part revenue per order year.  The share is
# a ratio of conditional aggregates over one joined stream — a single
# shuffle for the group-by after the join tree.
# ---------------------------------------------------------------------------
@query(
    "q56_market_share",
    oracle="""
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS volume,
             n2.n_name AS nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'EUROPE' AND p.p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def q56_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation"))
    volume = F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    return (
        li.join(F.broadcast(p.filter(F.col("p_type") == "ECONOMY")),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
              F.col("c_rk") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            # exact decimal sums, then ONE double division (q75 pattern)
            F.round(
                F.sum(
                    F.when(F.col("nation") == "NATION_3", volume).otherwise(F.lit(0))
                ).cast("double")
                / F.sum(volume).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# q57 — product-line profit by nation and year (TPC-H Q9 shape, adapted:
# profit = discounted revenue; no supplycost column exists).  The part
# name filter prunes lineitem early via the broadcast part dim.
# ---------------------------------------------------------------------------
@query(
    "q57_product_profit",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS o_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY nation, o_year
    """,
)
def q57_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p.filter(F.col("p_name").like("%widget%"))),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))), 2
            ).cast("double").alias("profit")
        )
    )


# ---------------------------------------------------------------------------
# q58 — returned-item reporting (TPC-H Q10 shape): top-20 customers by
# lost revenue from returned lines in a quarter.  TakeOrdered keeps the
# top-k per partition — no global sort; ties broken on c_custkey so the
# limit is deterministic.
# ---------------------------------------------------------------------------
@query(
    "q58_returned_items",
    bench=True,
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
                AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q58_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )


# ---------------------------------------------------------------------------
# q59 — important parts by value share (TPC-H Q11 shape, adapted to
# lineitem as the holdings relation): parts whose total traded value
# exceeds a fixed fraction of the global total.  The global scalar is a
# one-row broadcast against the already-aggregated per-part values —
# same exchange feeds both aggregates.
# ---------------------------------------------------------------------------
@query(
    "q59_important_parts",
    oracle="""
    -- decimal per-part values and an identically-derived double
    -- threshold: a part sitting EXACTLY on total*0.0007 would otherwise
    -- flip membership on each engine's double-sum error
    WITH partval AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(5,0))) AS val
      FROM lineitem GROUP BY 1
    )
    SELECT l_partkey, CAST(ROUND(val, 2) AS DOUBLE) AS value
    FROM partval
    WHERE CAST(val AS DOUBLE) >
          (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                           * CAST(l_quantity AS DECIMAL(5,0))) AS DOUBLE)
                  * 0.0007 FROM lineitem)
    """,
)
def q59_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # decimal values, double threshold — bit-identical membership (see
    # oracle).  (5,0) gives l_quantity headroom to 99,999: with ANSI on,
    # an overflowing cast ABORTS the query, so the cast width is a
    # domain contract, not a storage hint — (3,0) would cliff at 1,000
    # units on a wider-domain corpus.  Exactness is unchanged: decimal
    # products are exact at any width that fits.
    val = F.col("l_extendedprice").cast("decimal(12,2)") * F.col("l_quantity").cast(
        "decimal(5,0)"
    )
    partval = li.groupBy("l_partkey").agg(F.sum(val).alias("val"))
    total = li.agg((F.sum(val).cast("double") * 0.0007).alias("threshold"))
    return (
        partval.crossJoin(F.broadcast(total))
        .filter(F.col("val").cast("double") > F.col("threshold"))
        .select("l_partkey", F.round("val", 2).cast("double").alias("value"))
    )


# ---------------------------------------------------------------------------
# q60 — priority class by return flag (TPC-H Q12 shape, adapted:
# l_returnflag stands in for the missing l_shipmode).  Conditional
# counts fold into one aggregate pass after the orders⋈lineitem join.
# ---------------------------------------------------------------------------
@query(
    "q60_priority_class_lines",
    oracle="""
    SELECT l.l_returnflag,
           COUNT(*) FILTER (o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_line_count,
           COUNT(*) FILTER (o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_line_count
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_returnflag IN ('A', 'N')
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q60_priority_class_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            F.col("l_returnflag").isin("A", "N")
            & (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(high, 1)).alias("high_line_count"),
            F.count(F.when(~high, 1)).alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# q61 — promotion effect (TPC-H Q14 shape): percentage of a month's
# revenue from PROMO-type parts.  Ratio of conditional aggregates in a
# single pass; part is a broadcast dim against the date-pruned lineitem.
# ---------------------------------------------------------------------------
@query(
    "q61_promo_effect",
    oracle="""
    SELECT ROUND(100.0 *
             CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                      THEN CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))
                      ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE), 4) AS promo_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def q61_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            # exact decimal sums, then ONE double division (q75 pattern)
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
                ).cast("double")
                / F.sum(rev).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


# ---------------------------------------------------------------------------
# q62 — top supplier by quarterly revenue (TPC-H Q15 shape): the view +
# MAX scalar subquery becomes agg → one-row broadcast max → equality
# filter.  The supplier agg is small (|suppliers| rows); one shuffle.
# ---------------------------------------------------------------------------
@query(
    "q62_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, CAST(ROUND(r.total_rev, 2) AS DOUBLE) AS total_rev
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    """,
)
def q62_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))).alias("total_rev"))
    )
    mx = revenue.agg(F.max("total_rev").alias("max_rev"))
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.round("total_rev", 2).cast("double").alias("total_rev"))
    )


# ---------------------------------------------------------------------------
# q63 — parts/supplier relationship (TPC-H Q16 shape, adapted: lineitem
# is the part×supplier relation; suppliers with negative balance play
# the excluded-complaints role).  NOT IN → broadcast anti join before
# the distinct-count shuffle.
# ---------------------------------------------------------------------------
@query(
    "q63_parts_supplier_count",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'LARGE'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q63_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    sizes = [1, 5, 9, 13, 17, 21, 25, 29]
    pf = p.filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "LARGE")
        & F.col("p_size").isin(sizes)
    )
    bad = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(pf), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q64 — dominant shippers (TPC-H Q20 shape, adapted): suppliers who
# shipped more than half of a year's quantity of some small part.  The
# nested-IN chain becomes agg → re-agg on the same exchange → threshold
# join; part/supplier/nation dims broadcast; DISTINCT dedups fan-out.
# ---------------------------------------------------------------------------
@query(
    "q64_dominant_shippers",
    oracle="""
    WITH shipped AS (
      SELECT l_partkey, l_suppkey, SUM(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    ),
    totals AS (
      SELECT l_partkey, SUM(qty) AS total_qty FROM shipped GROUP BY 1
    )
    SELECT DISTINCT s.s_suppkey, s.s_name, n.n_name
    FROM shipped sh
    JOIN totals t ON sh.l_partkey = t.l_partkey
    JOIN part p ON p.p_partkey = sh.l_partkey AND p.p_name LIKE 'small%'
    JOIN supplier s ON s.s_suppkey = sh.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE sh.qty > 0.5 * t.total_qty
    """,
)
def q64_dominant_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    totals = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("qty").alias("total_qty")
    )
    return (
        shipped.join(totals, F.col("l_partkey") == F.col("t_partkey"))
        .filter(F.col("qty") > 0.5 * F.col("total_qty"))
        .join(F.broadcast(p.filter(F.col("p_name").like("small%"))),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .distinct()
    )


# ---------------------------------------------------------------------------
# q65 — per-group trend fit: OLS regression of daily revenue on the day
# index, per order priority (the "is this segment growing?" query).
# Both the daily rollup and the regression are single-shuffle
# map-side-partial aggregates on JVM regr_* — no Python, no collect;
# the closed-form moments merge associatively like any other partial.
# ---------------------------------------------------------------------------
@query(
    "q65_revenue_trend",
    oracle="""
    WITH daily AS (
      SELECT o_orderpriority,
             CAST(CAST(o_orderdate AS DATE) - DATE '1996-01-01' AS DOUBLE) AS day_idx,
             SUM(o_totalprice) AS revenue
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_days,
           ROUND(regr_slope(revenue, day_idx) + 1e-9, 4) AS slope,
           ROUND(regr_intercept(revenue, day_idx) + 1e-9, 2) AS intercept,
           ROUND(regr_r2(revenue, day_idx) + 1e-9, 6) AS r2
    FROM daily
    GROUP BY o_orderpriority
    """,
)
def q65_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(
            "o_orderpriority",
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1996-01-01").cast("date"))
            .cast("double")
            .alias("day_idx"),
        )
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    return daily.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.regr_slope("revenue", "day_idx") + F.lit(1e-9), 4).alias("slope"),
        F.round(F.regr_intercept("revenue", "day_idx") + F.lit(1e-9), 2).alias("intercept"),
        F.round(F.regr_r2("revenue", "day_idx") + F.lit(1e-9), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q66 — fixed-width histogram: integer bin arithmetic (floor((x-lo)/w),
# clamped) so bucket edges are exact in every engine; one aggregate
# pass, bins orderable for charting.
# ---------------------------------------------------------------------------
@query(
    "q66_price_histogram",
    oracle="""
    SELECT LEAST(CAST(FLOOR(o_totalprice / 50000.0) AS BIGINT), 9) AS bin,
           COUNT(*) AS n,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def q66_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bin_col = F.least(
        F.floor(F.col("o_totalprice") / 50000.0).cast("long"), F.lit(9).cast("long")
    )
    return (
        o.groupBy(bin_col.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# q67 — time-RANGE window frame: per customer, revenue over the
# trailing 30 days relative to each order's date (not 30 *rows*) —
# the frame Spark expresses with rangeBetween over epoch seconds.
# One shuffle+sort on (custkey, time), state bounded by the interval.
# ---------------------------------------------------------------------------
@query(
    "q67_rolling_30d_revenue",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
           ), 2) AS rev_30d
    FROM orders
    """,
)
def q67_rolling_30d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2_592_000, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("rev_30d"),
    )


# ---------------------------------------------------------------------------
# q68 — unpivot/melt: the wide-to-long inverse of q25's pivot.  A
# two-column conditional aggregate goes wide, then `melt` turns status
# columns back into rows — Spark's stack()-backed unpivot, no shuffle
# beyond the aggregate's own.
# ---------------------------------------------------------------------------
@query(
    "q68_unpivot_status_qty",
    oracle="""
    WITH wide AS (
      SELECT o.o_orderpriority,
             SUM(CASE WHEN l.l_linestatus = 'F' THEN l.l_quantity ELSE 0 END) AS qty_f,
             SUM(CASE WHEN l.l_linestatus = 'O' THEN l.l_quantity ELSE 0 END) AS qty_o
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1
    )
    SELECT o_orderpriority, 'qty_f' AS linestatus, ROUND(qty_f, 2) AS qty FROM wide
    UNION ALL
    SELECT o_orderpriority, 'qty_o', ROUND(qty_o, 2) FROM wide
    """,
)
def q68_unpivot_status_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    wide = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")).otherwise(0.0)), 2
            ).alias("qty_f"),
            F.round(
                F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")).otherwise(0.0)), 2
            ).alias("qty_o"),
        )
    )
    return wide.melt(
        ids=["o_orderpriority"],
        values=["qty_f", "qty_o"],
        variableColumnName="linestatus",
        valueColumnName="qty",
    )


# ---------------------------------------------------------------------------
# q69 — bag-semantics set ops: INTERSECT ALL / EXCEPT ALL keep
# multiplicity (rows appearing m and n times intersect min(m,n) times),
# unlike q18/q19's set forms.  Spark plans these as aggregate+join on
# the row value — one shuffle each.
# ---------------------------------------------------------------------------
@query(
    "q69_bag_set_ops",
    oracle="""
    WITH a AS (SELECT o_orderpriority, o_orderstatus FROM orders
               WHERE o_totalprice > 100000),
    b AS (SELECT o_orderpriority, o_orderstatus FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
    i AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
    e AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
    SELECT 'intersect_all' AS op, COUNT(*) AS n FROM i
    UNION ALL
    SELECT 'except_all', COUNT(*) FROM e
    """,
)
def q69_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 100000).select(
        "o_orderpriority", "o_orderstatus"
    )
    b = o.filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select("o_orderpriority", "o_orderstatus")
    i = a.intersectAll(b).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("intersect_all").alias("op"), "n"
    )
    e = a.exceptAll(b).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("except_all").alias("op"), "n"
    )
    return i.unionByName(e)


# ---------------------------------------------------------------------------
# q70 — several COUNT(DISTINCT ...) over different conditions in ONE
# aggregate: Spark plans an Expand (one row replica per distinct
# aggregate) + two-phase agg, so the table is still scanned once —
# the audience-overlap query shape (how many customers total / urgent /
# big-ticket) without three passes.
# ---------------------------------------------------------------------------
@query(
    "q70_multi_distinct",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS all_cust,
           COUNT(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                               THEN o_custkey END) AS urgent_cust,
           COUNT(DISTINCT CASE WHEN o_totalprice > 200000
                               THEN o_custkey END) AS big_cust
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q70_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("all_cust"),
        F.countDistinct(
            F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
        ).alias("urgent_cust"),
        F.countDistinct(
            F.when(F.col("o_totalprice") > 200000, F.col("o_custkey"))
        ).alias("big_cust"),
    )


# ---------------------------------------------------------------------------
# q71 — interval-overlap self join (SURVEY §2.D theta/range joins) via
# operators/interval.py::overlap_join: pairs of same-customer orders whose
# 7-day fulfilment windows overlap.  The binned formulation keeps this a
# hash join (one shuffle per side on (custkey, week-bin)); the naive
# inequality join would be a nested loop — quadratic per customer and
# unplannable at fact×fact scale.
# ---------------------------------------------------------------------------
@query(
    "q71_order_window_overlap",
    oracle="""
    SELECT o1.o_custkey AS custkey, COUNT(*) AS n_pairs
    FROM orders o1
    JOIN orders o2
      ON o1.o_custkey = o2.o_custkey
     AND o1.o_orderkey < o2.o_orderkey
     AND o1.o_orderdate <= o2.o_orderdate + INTERVAL 7 DAY
     AND o2.o_orderdate <= o1.o_orderdate + INTERVAL 7 DAY
    GROUP BY 1
    """,
)
def q71_order_window_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.interval import overlap_join

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    week = F.expr("INTERVAL 7 DAYS")
    left = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("l_key"),
        F.col("o_orderdate").alias("l_start"),
        (F.col("o_orderdate") + week).alias("l_end"),
    )
    right = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("r_key"),
        F.col("o_orderdate").alias("r_start"),
        (F.col("o_orderdate") + week).alias("r_end"),
    )
    pairs = overlap_join(
        left,
        right,
        on=["custkey"],
        left_start="l_start",
        left_end="l_end",
        right_start="r_start",
        right_end="r_end",
        bin_seconds=7 * 24 * 3600,
    ).filter(F.col("l_key") < F.col("r_key"))
    return pairs.groupBy("custkey").agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# q72 — deterministic per-group mode (most frequent value).  Built as
# count + row_number ordered (count DESC, value ASC) rather than
# ``F.mode`` so ties resolve identically on every engine and every run —
# non-deterministic tie-breaks are a silent reproducibility bug in
# training-data pipelines.  Two shuffles: the count agg and the window,
# both on n_name (low cardinality; the count agg map-side combines).
# ---------------------------------------------------------------------------
@query(
    "q72_modal_segment",
    oracle="""
    SELECT n_name, mkt AS modal_segment, cnt AS n_customers
    FROM (
        SELECT n.n_name, c.c_mktsegment AS mkt, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY n.n_name
                                  ORDER BY COUNT(*) DESC, c.c_mktsegment) AS rn
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        -- mode semantics: NULL is "unknown", not a candidate value —
        -- SQL's mode() aggregate ignores NULLs, and leaving them in
        -- also splits the asc tie-break (Spark NULLS FIRST vs DuckDB
        -- NULLS LAST); excluded explicitly on BOTH sides
        WHERE c.c_mktsegment IS NOT NULL
        GROUP BY 1, 2
    ) t
    WHERE rn = 1
    """,
)
def q72_modal_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    counts = (
        c.filter(F.col("c_mktsegment").isNotNull())  # mode ignores NULLs (see oracle)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("n_name").orderBy(F.desc("cnt"), F.asc("c_mktsegment"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("n_name", F.col("c_mktsegment").alias("modal_segment"), F.col("cnt").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# q73 — exact weighted median: smallest l_quantity whose cumulative
# l_extendedprice weight reaches half the group total.  Both cumulative
# and total weight come from ONE window partitioning (default RANGE
# frame makes tied quantities share a cumulative value, so the result
# is order-deterministic across engines); one shuffle on l_returnflag.
# ---------------------------------------------------------------------------
@query(
    "q73_weighted_median",
    oracle="""
    SELECT l_returnflag, MIN(l_quantity) AS weighted_median
    FROM (
        SELECT l_returnflag, l_quantity,
               SUM(l_extendedprice) OVER (PARTITION BY l_returnflag
                                          ORDER BY l_quantity NULLS LAST) AS cum_w,
               SUM(l_extendedprice) OVER (PARTITION BY l_returnflag) AS tot_w
        FROM lineitem
    ) t
    WHERE cum_w >= 0.5 * tot_w
    GROUP BY 1
    """,
)
def q73_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # NULLS LAST pinned on both sides (see q50): unknown quantities sort
    # past the 0.5 crossing and MIN ignores them, so the median is the
    # same with or without NULL rows — but only under a pinned order
    cum = W.partitionBy("l_returnflag").orderBy(F.col("l_quantity").asc_nulls_last())
    tot = W.partitionBy("l_returnflag")
    return (
        li.select(
            "l_returnflag",
            "l_quantity",
            F.sum("l_extendedprice").over(cum).alias("cum_w"),
            F.sum("l_extendedprice").over(tot).alias("tot_w"),
        )
        .filter(F.col("cum_w") >= 0.5 * F.col("tot_w"))
        .groupBy("l_returnflag")
        .agg(F.min("l_quantity").alias("weighted_median"))
    )


# ---------------------------------------------------------------------------
# q74 — gaps & islands: longest run of consecutive active days per user
# (the date - row_number() trick: consecutive days share a group key).
# One shuffle on user_id serves the distinct, the window and both aggs;
# per-user state is bounded by days-in-history, never by event volume.
# ---------------------------------------------------------------------------
@query(
    "q74_daily_streaks",
    oracle="""
    SELECT user_id, MAX(streak) AS max_streak, COUNT(*) AS n_streaks
    FROM (
        SELECT user_id, grp, COUNT(*) AS streak
        FROM (
            SELECT user_id, d,
                   d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                            AS INTEGER) AS grp
            FROM (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events) days
        ) isl
        GROUP BY 1, 2
    ) runs
    GROUP BY 1
    """,
)
def q74_daily_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    days = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    isl = days.withColumn(
        "grp",
        F.date_sub(F.col("d"), F.row_number().over(W.partitionBy("user_id").orderBy("d"))),
    )
    runs = isl.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("streak"))
    return runs.groupBy("user_id").agg(
        F.max("streak").alias("max_streak"), F.count(F.lit(1)).alias("n_streaks")
    )


# ---------------------------------------------------------------------------
# q75 — percent-of-total (ratio_to_report): each nation's share of its
# region's revenue.  The aggregate shuffles once on nation; the share
# window re-partitions the 25-row aggregate, not the fact table.
# ---------------------------------------------------------------------------
@query(
    "q75_revenue_share",
    oracle="""
    WITH rev AS (
        -- decimal accumulation: a double SUM is summation-order-dependent
        -- and can land exactly on a ROUND half-boundary (1-cent flips seen
        -- on perturbed corpora); decimal is exact and order-independent
        SELECT r.r_name AS region, n.n_name AS nation,
               SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS revenue
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        JOIN region r   ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation, CAST(ROUND(revenue, 2) AS DOUBLE) AS revenue,
           ROUND(CAST(revenue AS DOUBLE)
                 / CAST(SUM(revenue) OVER (PARTITION BY region) AS DOUBLE), 6)
             AS region_share
    FROM rev
    """,
)
def q75_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).alias("rev")
        )
    )
    # exact decimal sums, then ONE double division: identical inputs on
    # both engines make the rounded share bit-identical
    share = F.col("rev").cast("double") / F.sum("rev").over(
        W.partitionBy("region")
    ).cast("double")
    return rev.select(
        "region", "nation",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(share, 6).alias("region_share"),
    )


# ---------------------------------------------------------------------------
# q76 — calendar/date function surface (year/quarter/month/ISO week/
# day-of-week/last_day/date arithmetic) exercised end-to-end with
# engine-aligned conventions (Spark dayofweek is 1=Sunday; ISO week via
# weekofyear).  Single map + one low-cardinality aggregate.
# ---------------------------------------------------------------------------
@query(
    "q76_calendar_breakdown",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN dayofweek(o_orderdate) IN (0, 6) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_weekend,
           COUNT(DISTINCT weekofyear(o_orderdate)) AS n_iso_weeks,
           ROUND(AVG(date_diff('day', CAST(o_orderdate AS DATE),
                               last_day(CAST(o_orderdate AS DATE)))), 4)
             AS avg_days_to_eom
    FROM orders
    GROUP BY 1, 2
    """,
)
def q76_calendar_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return (
        o.groupBy(F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.dayofweek("o_orderdate").isin(1, 7).cast("long")).alias("n_weekend"),
            F.countDistinct(F.weekofyear("o_orderdate")).alias("n_iso_weeks"),
            F.round(F.avg(F.datediff(F.last_day(d), d)), 4).alias("avg_days_to_eom"),
        )
    )


# ---------------------------------------------------------------------------
# q77 — top-k per group: the 3 highest-value orders per market segment.
# Window rank + filter: ONE shuffle on the group key, state per task is
# the window frame, never a per-group collect_list (which is unbounded
# memory at 100 TB group sizes).  Deterministic tie-break on orderkey.
# ---------------------------------------------------------------------------
@query(
    "q77_topk_per_group",
    oracle="""
    SELECT segment, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk
    FROM (
        SELECT c.c_mktsegment AS segment, o.o_orderkey, o.o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) t
    WHERE rnk <= 3
    """,
)
def q77_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("segment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("segment"), "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


# ---------------------------------------------------------------------------
# q78 — bloom-filter semi-join reduction (operators/bloom.py): lineitem
# pruned map-side by a bitmap of the European suppliers' key set, exact
# semi join only on the pruned remainder.  At 100 TB the bloom probe
# discards non-matching fact rows at the scan — no shuffle, no raw dim
# broadcast — and the follow-up semi join shuffles a fraction of the
# fact.  Result is exactly the semi join (false positives stripped).
# ---------------------------------------------------------------------------
def _q78_build(spark: SparkSession, sf_dir: str, *, exact: bool) -> DataFrame:
    from etl_batch_spark.operators.bloom import bloom_semi_filter

    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    euro = (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey")
    )
    pruned = bloom_semi_filter(
        li, euro, "l_suppkey", "s_suppkey", num_bits=1 << 16, exact=exact
    )
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))), 2).cast("double").alias("revenue"),
    )


@query(
    "q78_bloom_semi_filter",
    bench=True,
    # bench times the join-free probe (exact=False) — the plan the bloom
    # operator exists to produce at 100 TB (scan-side prune, no shuffle,
    # no dim broadcast).  Correctness keeps exact=True so the result is
    # exactly the semi join the oracle computes.
    bench_build=lambda spark, sf_dir: _q78_build(spark, sf_dir, exact=False),
    doc="bloom-pruned semi join (operators.bloom.bloom_semi_filter)",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_suppkey IN (
        SELECT s.s_suppkey
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    GROUP BY l_returnflag
    """,
)
def q78_bloom_semi_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _q78_build(spark, sf_dir, exact=True)


# ---------------------------------------------------------------------------
# q79 — Oracle-built-in string surface (SURVEY §2.B table): LPAD/RPAD,
# INSTR, SUBSTR, ASCII, CHR, REVERSE, LEFT/RIGHT, SPLIT_PART, REPLACE
# exercised in one scan over a keyed slice of part.  All JVM
# expressions inside whole-stage codegen — the parity point is that
# every Oracle string builtin the reference leans on has an engine
# function with identical semantics.
# ---------------------------------------------------------------------------
@query(
    "q79_string_surface",
    doc="Oracle string-builtin parity surface in one projection",
    oracle="""
    SELECT p_partkey,
           lpad(p_name, 30, '*')              AS padded_l,
           rpad(p_name, 30, '.')              AS padded_r,
           reverse(p_name)                    AS rev,
           left(p_name, 5)                    AS l5,
           right(p_name, 5)                   AS r5,
           CAST(ascii(p_name) AS INT)         AS first_code,
           chr(65 + CAST(p_partkey % 26 AS INT)) AS bucket_chr,
           CAST(instr(p_name, 'a') AS INT)    AS a_pos,
           substr(p_name, 3, 7)               AS mid,
           split_part(p_name, ' ', 2)         AS second_word,
           replace(p_name, ' ', '_')          AS snake
    FROM part WHERE p_partkey % 40 = 0
    """,
)
def q79_string_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 40 == 0)
    name = F.col("p_name")
    return p.select(
        "p_partkey",
        F.lpad(name, 30, "*").alias("padded_l"),
        F.rpad(name, 30, ".").alias("padded_r"),
        F.reverse(name).alias("rev"),
        F.expr("left(p_name, 5)").alias("l5"),
        F.expr("right(p_name, 5)").alias("r5"),
        F.ascii(name).cast("int").alias("first_code"),
        F.chr(F.lit(65) + (F.col("p_partkey") % 26).cast("int")).alias("bucket_chr"),
        F.instr(name, "a").cast("int").alias("a_pos"),
        F.substring(name, 3, 7).alias("mid"),
        F.split_part(name, F.lit(" "), F.lit(2)).alias("second_word"),
        F.replace(name, F.lit(" "), F.lit("_")).alias("snake"),
    )


# ---------------------------------------------------------------------------
# q80 — null-safe join (<=> / IS NOT DISTINCT FROM): NULL keys match
# each other instead of vanishing, the semantics reconciliation jobs
# need when "unknown" is a legitimate join bucket.  Still a hash join:
# Catalyst plans eqNullSafe as an equi-key with null-safe comparison,
# not a nested loop.
# ---------------------------------------------------------------------------
@query(
    "q80_null_safe_join",
    oracle="""
    WITH c AS (
        SELECT c_custkey, nullif(c_nationkey % 5, 3) AS bucket FROM customer
    ),
    s AS (
        SELECT s_suppkey, nullif(s_nationkey % 5, 3) AS bucket FROM supplier
    )
    SELECT c.bucket, COUNT(*) AS n_pairs,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_cust,
           CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT) AS n_supp
    FROM c JOIN s ON c.bucket IS NOT DISTINCT FROM s.bucket
    GROUP BY c.bucket
    """,
)
def q80_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.col("c_nationkey") % 5, F.lit(3)).alias("bucket")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.nullif(F.col("s_nationkey") % 5, F.lit(3)).alias("s_bucket")
    )
    return (
        c.join(s, c.bucket.eqNullSafe(s.s_bucket))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("c_custkey").alias("n_cust"),
            F.countDistinct("s_suppkey").alias("n_supp"),
        )
    )


# ---------------------------------------------------------------------------
# q81 — posexplode (explode with ordinality): word position survives the
# flatten, the piece plain explode loses.  Generated per-row from the
# split array — no shuffle at all; the oracle zips DuckDB's parallel
# unnests.
# ---------------------------------------------------------------------------
@query(
    "q81_posexplode_words",
    oracle="""
    SELECT p_partkey,
           CAST(unnest(range(1, len(string_split(p_name, ' ')) + 1)) - 1 AS INT) AS pos,
           unnest(string_split(p_name, ' ')) AS word
    FROM part WHERE p_partkey % 100 = 0
    """,
)
def q81_posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 100 == 0)
    return p.select(
        "p_partkey",
        F.posexplode(F.split(F.col("p_name"), " ")).alias("pos", "word"),
    ).withColumn("pos", F.col("pos").cast("int"))


# ---------------------------------------------------------------------------
# q82 — NOT IN vs NOT EXISTS null semantics: one NULL in the subquery
# list makes ANSI NOT IN three-valued (no row can prove itself absent),
# while NOT EXISTS keeps matching on equality.  The classic silent-
# empty-result ETL bug, pinned as a two-column contract in both
# engines.  Catalyst plans the NOT IN as a null-aware anti join.
# ---------------------------------------------------------------------------
@query(
    "q82_not_in_null_semantics",
    oracle="""
    WITH probe AS (SELECT nullif(s_nationkey % 7, 3) AS b FROM supplier)
    SELECT
      (SELECT COUNT(*) FROM customer
        WHERE (c_nationkey % 7) NOT IN (SELECT b FROM probe)) AS n_not_in,
      (SELECT COUNT(*) FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM probe p
                          WHERE p.b = (c.c_nationkey % 7))) AS n_not_exists
    """,
)
def q82_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q82_customer")
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("q82_supplier")
    return spark.sql(
        """
        WITH probe AS (SELECT nullif(s_nationkey % 7, 3) AS b FROM q82_supplier)
        SELECT
          (SELECT COUNT(*) FROM q82_customer
            WHERE (c_nationkey % 7) NOT IN (SELECT b FROM probe)) AS n_not_in,
          (SELECT COUNT(*) FROM q82_customer c
            WHERE NOT EXISTS (SELECT 1 FROM probe p
                              WHERE p.b = (c.c_nationkey % 7))) AS n_not_exists
        """
    )


# ---------------------------------------------------------------------------
# q83 — VARIANT JSON path (Spark 4): events.props parsed once to a
# variant, fields extracted with variant_get — the semi-structured
# column type that replaces string re-parsing per access.  Oracle uses
# DuckDB's JSON extraction; both group on the extracted value.
# ---------------------------------------------------------------------------
@query(
    "q83_variant_props",
    doc="VARIANT parse_json/variant_get over the events.props JSON",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def q83_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return e.groupBy(k.alias("k")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# q84 — Python UDTF in a LATERAL join (functions/udtfs.py): the
# reference's get-nth-field loop as one table-function expansion.
# Glue-cardinality only (UDTFs are the Python-row path) — the codegen
# twin for fact columns is q81's posexplode.
# ---------------------------------------------------------------------------
@query(
    "q84_udtf_split_fields",
    doc="lateral Python UDTF field expansion (reference nth-field semantics)",
    oracle="""
    SELECT p_partkey,
           CAST(unnest(range(1, len(string_split(p_name, ' ')) + 1)) AS INT) AS pos,
           unnest(string_split(p_name, ' ')) AS field
    FROM part WHERE p_partkey % 100 = 1
    """,
)
def q84_udtf_split_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "part").filter(
        F.col("p_partkey") % 100 == 1
    ).createOrReplaceTempView("q84_part")
    return spark.sql(
        "SELECT p.p_partkey, s.pos, s.field "
        "FROM q84_part p, LATERAL split_fields(p.p_name, ' ') s"
    )


# ---------------------------------------------------------------------------
# q85 — null ordering semantics: Spark defaults to NULLS FIRST on ASC
# and NULLS LAST on DESC; engines disagree on defaults (DuckDB is the
# opposite), so portable sorts must pin the placement explicitly.  The
# query materializes both placements as rank columns over a nullable
# derived key — the ordering contract, hash-checked.  The two GLOBAL
# rankings use operators/ranks.py::global_row_number (range-partitioned
# rank + slice offset) — never an unpartitioned WindowExec over a table
# that grows with scale.
# ---------------------------------------------------------------------------
@query(
    "q85_null_ordering",
    oracle="""
    WITH s AS (SELECT s_suppkey, nullif(s_acctbal, 0) AS bal,
                      nullif(s_nationkey % 6, 2) AS grp
               FROM supplier WHERE s_suppkey % 7 = 0)
    SELECT s_suppkey,
           CAST(ROW_NUMBER() OVER (ORDER BY bal ASC NULLS FIRST, s_suppkey) AS BIGINT)
             AS rk_nulls_first,
           CAST(ROW_NUMBER() OVER (ORDER BY bal DESC NULLS LAST, s_suppkey) AS BIGINT)
             AS rk_nulls_last,
           CAST(ROW_NUMBER() OVER (PARTITION BY grp
                                   ORDER BY bal ASC NULLS LAST, s_suppkey) AS BIGINT)
             AS rk_in_group
    FROM s
    """,
)
def q85_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 7 == 0)
        .select(
            "s_suppkey",
            F.nullif(F.col("s_acctbal"), F.lit(0)).alias("bal"),
            F.nullif(F.col("s_nationkey") % 6, F.lit(2)).alias("grp"),
        )
    )
    from etl_batch_spark.operators.ranks import global_row_number

    ranked = global_row_number(
        s, [F.col("bal").asc_nulls_first(), F.col("s_suppkey").asc()], "rk_nulls_first"
    )
    ranked = global_row_number(
        ranked,
        [F.col("bal").desc_nulls_last(), F.col("s_suppkey").asc()],
        "rk_nulls_last",
    )
    # PARTITION BY grp is ~6 groups — low-cardinality, so a plain window
    # would still serialize each huge group onto one task; the partitioned
    # global_row_number spreads every group across range slices instead.
    ranked = global_row_number(
        ranked,
        [F.col("bal").asc_nulls_last(), F.col("s_suppkey").asc()],
        "rk_in_group",
        partition_cols=["grp"],
    )
    return ranked.select("s_suppkey", "rk_nulls_first", "rk_nulls_last", "rk_in_group")


# ---------------------------------------------------------------------------
# q86 — aggregate-function surface: count_if, bool_and/bool_or, exact
# median, bitwise aggregates, and moment statistics (skewness /
# kurtosis).  Spark computes skew/kurt as population moments in one
# streaming pass; the oracle derives the same statistics from raw power
# sums (E[x^k]) to pin the definition, not the implementation.  All
# partial-aggregated: one exchange on the 3-value group key.
# ---------------------------------------------------------------------------
@query(
    "q86_aggregate_surface",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             COUNT(*) FILTER (l_quantity > 25) AS n_big,
             BOOL_AND(l_quantity > 0) AS all_positive,
             BOOL_OR(l_discount > 0.09) AS any_deep_discount,
             ROUND(MEDIAN(l_quantity), 4) AS med_qty,
             BIT_AND(CAST(l_orderkey AS BIGINT)) AS band,
             BIT_OR(CAST(l_orderkey AS BIGINT)) AS bor,
             BIT_XOR(CAST(l_orderkey AS BIGINT)) AS bxor,
             AVG(l_quantity) AS e1,
             AVG(l_quantity * l_quantity) AS e2,
             AVG(l_quantity * l_quantity * l_quantity) AS e3,
             AVG(l_quantity * l_quantity * l_quantity * l_quantity) AS e4
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, n_big, all_positive, any_deep_discount,
           med_qty, band, bor, bxor,
           ROUND((e3 - 3*e1*e2 + 2*e1*e1*e1)
                 / POW(e2 - e1*e1, 1.5), 4) AS skew_qty,
           ROUND((e4 - 4*e1*e3 + 6*e1*e1*e2 - 3*e1*e1*e1*e1)
                 / POW(e2 - e1*e1, 2) - 3, 4) AS kurt_qty
    FROM m
    """,
)
def q86_aggregate_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    okey = F.col("l_orderkey").cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("l_quantity") > 25).alias("n_big"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.round(F.median("l_quantity"), 4).alias("med_qty"),
        F.bit_and(okey).alias("band"),
        F.bit_or(okey).alias("bor"),
        F.bit_xor(okey).alias("bxor"),
        F.round(F.skewness("l_quantity"), 4).alias("skew_qty"),
        F.round(F.kurtosis("l_quantity"), 4).alias("kurt_qty"),
    )


# ---------------------------------------------------------------------------
# q87 — correlated LATERAL join (top-N per outer row as a subquery):
# for every nation, its top-2 customers by balance.  Catalyst
# decorrelates the LIMIT subquery into a window + filter — same
# physical plan as q77's rank approach — so the SQL-standard LATERAL
# form costs nothing extra.  Hash-checked against DuckDB's native
# LATERAL execution.
# ---------------------------------------------------------------------------
@query(
    "q87_lateral_topn",
    oracle="""
    SELECT n.n_name, t.c_custkey, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey
      LIMIT 2
    ) t
    """,
)
def q87_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("q87_nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("q87_customer")
    return spark.sql(
        """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM q87_nation n,
        LATERAL (
          SELECT c_custkey, c_acctbal
          FROM q87_customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) t
        """
    )


# ---------------------------------------------------------------------------
# q88 — schema-evolution union (unionByName allowMissingColumns): two
# generations of the same feed — an old extract without tax/comment
# columns and the current one — stacked by NAME with NULL fill, the
# operation every long-lived pipeline performs when a source adds
# columns.  Positional UNION would silently misalign; by-name union is
# the contract.  Narrow (no shuffle) until the final aggregate.
# ---------------------------------------------------------------------------
@query(
    "q88_union_evolving_schema",
    oracle="""
    WITH old_gen AS (
      SELECT l_orderkey, l_quantity, l_extendedprice,
             CAST(NULL AS DOUBLE) AS l_tax
      FROM lineitem WHERE l_linenumber = 1
    ),
    new_gen AS (
      SELECT l_orderkey, l_quantity, l_extendedprice, l_tax
      FROM lineitem WHERE l_linenumber = 2
    ),
    unioned AS (
      SELECT * FROM old_gen UNION ALL SELECT * FROM new_gen
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(l_tax) AS n_with_tax,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_tax), 2) AS sum_tax
    FROM unioned
    """,
)
def q88_union_evolving_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    old_gen = li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    new_gen = li.filter(F.col("l_linenumber") == 2).select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_tax"
    )
    unioned = old_gen.unionByName(new_gen, allowMissingColumns=True)
    return unioned.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("l_tax").alias("n_with_tax"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_tax"), 2).alias("sum_tax"),
    )


# ---------------------------------------------------------------------------
# q89 — NATIVE recursive CTE (Spark 4 WITH RECURSIVE): the same
# custkey forest et05 walks with manual frontier joins, expressed as
# SQL-standard recursion on BOTH engines.  Spark plans one join round
# per level (UnionLoop) — semantics identical to et05's bfs_levels;
# having both pins that the engine's SQL front door matches the
# operator library.  Depth is bounded by the tree height (~log10 of
# the keyspace), so the recursion terminates at any scale.
# ---------------------------------------------------------------------------
_Q89_SQL = """
    WITH RECURSIVE t AS (
      SELECT c_custkey, 0 AS depth FROM {customer} WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey, t.depth + 1
      FROM {customer} c JOIN t ON ({div}) = t.c_custkey
      WHERE c.c_custkey >= 10
    )
    SELECT depth, COUNT(*) AS n_nodes,
           CAST(MIN(c_custkey) AS BIGINT) AS min_node,
           CAST(MAX(c_custkey) AS BIGINT) AS max_node
    FROM t GROUP BY depth
"""


@query(
    "q89_recursive_cte",
    bench=True,
    oracle=_Q89_SQL.format(customer="customer", div="c.c_custkey // 10"),
)
def q89_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the recursion joins the customer relation once PER LEVEL — give it
    # the single column it reads, materialized once (localCheckpoint),
    # instead of a fresh parquet scan every iteration (guide §2.4: the
    # cheapest shuffle/scan is the one removed; the recursive operator
    # itself is untouched)
    (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .localCheckpoint(eager=False)
        .createOrReplaceTempView("q89_customer")
    )
    return spark.sql(
        _Q89_SQL.format(customer="q89_customer", div="c.c_custkey div 10")
    )


# ---------------------------------------------------------------------------
# q90 — XML ingest surface (Spark 4 from_xml): part rows serialized to
# XML and parsed back with a typed schema — the document-feed ingest
# path (legacy B2B interfaces ship exactly this shape).  The oracle
# checks the round trip by projecting the ORIGINAL columns: any
# escaping/typing loss in serialize→parse shows up as a value mismatch.
# xpath_* functions cover the fragment-query side.  All JVM-side
# expressions; no shuffle before the final aggregate.
# ---------------------------------------------------------------------------
@query(
    "q90_xml_roundtrip",
    oracle="""
    SELECT p_partkey,
           COALESCE(p_brand, '') AS p_brand,
           ROUND(p_retailprice, 2) AS retail,
           CAST(len(p_name) AS INT) AS name_len
    FROM part WHERE p_partkey % 50 = 0
    """,
)
def q90_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 50 == 0)
    # NULL fields serialize as EMPTY elements — a bare concat() would
    # NULL the whole document on one NULL field (Spark concat is
    # NULL-propagating).  Round-trip convention: <brand></brand> parses
    # back as '' for strings and NULL for numerics (from_xml), so the
    # oracle reads COALESCE(p_brand, '') and a NULL price stays NULL.
    xml = F.concat(
        F.lit("<part><key>"), F.col("p_partkey").cast("string"),
        F.lit("</key><brand>"), F.coalesce(F.col("p_brand"), F.lit("")),
        F.lit("</brand><price>"),
        F.coalesce(F.col("p_retailprice").cast("string"), F.lit("")),
        F.lit("</price><name>"), F.col("p_name"),
        F.lit("</name></part>"),
    )
    parsed = p.select(xml.alias("doc")).select(
        F.from_xml(
            "doc", "key BIGINT, brand STRING, price DOUBLE, name STRING"
        ).alias("x"),
        F.expr("xpath_string(doc, '/part/name')").alias("xp_name"),
    )
    return parsed.select(
        F.col("x.key").alias("p_partkey"),
        F.col("x.brand").alias("p_brand"),
        F.round("x.price", 2).alias("retail"),
        F.length("xp_name").cast("int").alias("name_len"),
    )


# ---------------------------------------------------------------------------
# q91 — running distinct count over a window: Spark has no
# COUNT(DISTINCT) window aggregate; the engine's form is
# size(collect_set() OVER w) — bounded state because the set is the
# event-type vocabulary (|types| = 5), NOT the row count.  The oracle
# uses DuckDB's native windowed DISTINCT, pinning the emulation
# row-for-row.  One shuffle on user_id.  (For unbounded-cardinality
# running distincts, the scalable form is the et07 HLL-sketch rollup.)
# ---------------------------------------------------------------------------
@query(
    "q91_running_distinct",
    oracle="""
    SELECT event_id, user_id,
           CAST(COUNT(DISTINCT event_type) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS INT) AS n_types_seen
    -- "types seen so far" is undefined for a timeless event (and
    -- engines disagree on where NULL ts sorts) — pinned by exclusion
    FROM events WHERE user_id % 20 = 7 AND ts IS NOT NULL
    """,
)
def q91_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") % 20 == 7) & F.col("ts").isNotNull()
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("int").alias("n_types_seen"),
    )


# ---------------------------------------------------------------------------
# q92 — period-over-period growth (MoM / YoY): the BI staple.  Monthly
# revenue aggregates first (25-row table), THEN lag(1)/lag(12) windows
# run over the aggregate — window cost is proportional to months, not
# fact rows, at any scale.  NULL-safe percent change via nullif.
# ---------------------------------------------------------------------------
@query(
    "q92_period_over_period",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           ROUND(100.0 * (revenue - LAG(revenue, 1) OVER (ORDER BY month))
                 / nullif(LAG(revenue, 1) OVER (ORDER BY month), 0), 4) AS mom_pct,
           ROUND(100.0 * (revenue - LAG(revenue, 12) OVER (ORDER BY month))
                 / nullif(LAG(revenue, 12) OVER (ORDER BY month), 0), 4) AS yoy_pct
    FROM monthly
    """,
)
def q92_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = W.orderBy("month")
    pct = lambda n: F.round(  # noqa: E731
        100.0
        * (F.col("revenue") - F.lag("revenue", n).over(w))
        / F.nullif(F.lag("revenue", n).over(w), F.lit(0)),
        4,
    )
    return monthly.select(
        "month", "revenue", pct(1).alias("mom_pct"), pct(12).alias("yoy_pct")
    )


# ---------------------------------------------------------------------------
# q93 — error-tolerant expression surface: Spark 4 runs ANSI mode by
# default (overflow/malformed-cast/bad-index THROW), so robust ETL over
# dirty feeds uses the try_* family — NULL on error, never a failed
# job.  Pinned against DuckDB's TRY_CAST / NULL-guarded forms over a
# deliberately dirty derived feed.  All row-local: no shuffle before
# the final aggregate-free projection.
# ---------------------------------------------------------------------------
@query(
    "q93_try_function_surface",
    oracle="""
    SELECT o_orderkey,
           TRY_CAST(dirty_num AS BIGINT) AS parsed_num,
           TRY_CAST(dirty_date AS DATE) AS parsed_date,
           CASE WHEN parts_n = 0 THEN NULL
                ELSE CAST(o_orderkey AS DOUBLE) / parts_n END AS safe_ratio,
           list_extract(string_split(o_orderpriority, '-'), 5) AS fifth_field
    FROM (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey AS VARCHAR)
                  ELSE 'x' || CAST(o_orderkey AS VARCHAR) END AS dirty_num,
             CASE WHEN o_orderkey % 4 = 0 THEN '2024-02-30'
                  ELSE '2024-01-15' END AS dirty_date,
             o_orderkey % 5 AS parts_n
      FROM orders WHERE o_orderkey % 100 = 1
    )
    """,
)
def q93_try_function_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 100 == 1)
    dirty_num = F.when(
        F.col("o_orderkey") % 3 == 0, F.col("o_orderkey").cast("string")
    ).otherwise(F.concat(F.lit("x"), F.col("o_orderkey").cast("string")))
    dirty_date = F.when(F.col("o_orderkey") % 4 == 0, "2024-02-30").otherwise(
        "2024-01-15"
    )
    parts_n = F.col("o_orderkey") % 5
    return o.select(
        "o_orderkey",
        # try_cast, not try_to_number('999999999'): the format string caps at
        # 9 digits, silently NULLing 10+-digit bigint orderkeys at larger SFs
        # while the TRY_CAST oracle still parses them (latent divergence).
        dirty_num.try_cast("bigint").alias("parsed_num"),
        F.try_to_date(dirty_date, "yyyy-MM-dd").alias("parsed_date"),
        F.try_divide(F.col("o_orderkey").cast("double"), parts_n).alias("safe_ratio"),
        F.try_element_at(F.split("o_orderpriority", "-"), F.lit(5)).alias("fifth_field"),
    )


# ---------------------------------------------------------------------------
# q94 — rolling exact median (trailing-7-row percentile window): Spark
# accepts its exact `percentile` aggregate over a window frame, DuckDB
# its `quantile_cont` — both linear-interpolating, pinned equal here.
# Frame cost is O(frame) per row; for wide frames at scale prefer the
# et04-style bucket pre-aggregation or approx sketches.  One shuffle
# on suppkey.
# ---------------------------------------------------------------------------
@query(
    "q94_rolling_median",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           ROUND(quantile_cont(l_quantity, 0.5) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_orderkey, l_linenumber, l_quantity
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
    FROM lineitem WHERE l_suppkey % 40 = 13
    """,
)
def q94_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 40 == 13)
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem
    # (11,785 duplicate pairs at sf0.01) — a ROWS frame over a tied order
    # is engine-ambiguous, so l_quantity joins the ordering: rows still
    # tied after it are identical in the aggregated column, making any
    # residual ambiguity value-invisible (caught by the gen_subset sweep).
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .rowsBetween(-6, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.expr("percentile(l_quantity, 0.5)").over(w), 4).alias("med7"),
    )


# ---------------------------------------------------------------------------
# q95 — salted skew join (operators/joins.py::salted_join), the remedy
# et17's skew profile exists to trigger: lineitem's l_suppkey is the
# skewed big side, supplier the non-broadcastable lookup.  Each fact row
# takes a deterministic salt, the lookup replicates once per salt value,
# and the join runs on (suppkey, salt) — every hot key spreads over 16
# shuffle partitions.  The oracle is the PLAIN join: salting must be
# invisible in the result, only in the partitioning.
# ---------------------------------------------------------------------------
@query(
    "q95_salted_skew_join",
    doc="skew-salted fact-lookup join, result-identical to the plain join",
    oracle="""
    SELECT s.s_nationkey AS nation,
           COUNT(*) AS n_lines,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2)))), 2) AS DOUBLE) AS revenue
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1
    """,
)
def q95_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.joins import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_extendedprice", "l_discount"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("suppkey"), "s_nationkey"
    )
    joined = salted_join(li, s, "suppkey", n_salts=16)
    return joined.groupBy(F.col("s_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)"))), 2
        ).cast("double").alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q96 — pandas GROUPED_AGG UDAF (the third member of the UDF/UDAF/UDTF
# surface next to scalars.py's register() and q84's UDTF): geometric
# mean per return flag via an Arrow-batched aggregating pandas_udf.
# SCALE NOTE, stated honestly: a pandas UDAF ships every group's values
# to one task (no partial aggregation) — at 100 TB the native
# exp(avg(ln(x))) expression (the oracle's form, map-side combined) is
# the right plan; the UDAF exists for API parity and for aggregations
# with no native expression.  The input is keyed down to a bounded
# slice accordingly.
# ---------------------------------------------------------------------------
@query(
    "q96_pandas_udaf_geomean",
    doc="grouped-agg pandas UDAF (Arrow) geometric mean vs native oracle",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(EXP(AVG(LN(l_extendedprice))), 4) AS geo_mean
    FROM lineitem WHERE l_suppkey % 10 = 0
    GROUP BY 1
    """,
)
def q96_pandas_udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.functions.udafs import geo_mean

    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") % 10 == 0)
    # a grouped-agg pandas UDF cannot share an agg() with native
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — two aggs, one join on
    # the 3-value group key
    gm = li.groupBy("l_returnflag").agg(
        F.round(geo_mean("l_extendedprice"), 4).alias("geo_mean")
    ).withColumnRenamed("l_returnflag", "__gm_flag")
    counts = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    # null-safe rejoin: GROUP BY keeps a NULL flag group on both sides,
    # and a plain equi-join would silently drop it (NULL != NULL)
    return counts.join(
        gm, F.col("l_returnflag").eqNullSafe(F.col("__gm_flag"))
    ).select("l_returnflag", "n_lines", "geo_mean")


# ---------------------------------------------------------------------------
# q97 — 2-D skyline (Pareto frontier): parts not strictly dominated on
# (cheaper price, larger size).  The textbook plan is an O(n²) NOT
# EXISTS self-join (the oracle's first form); the scale plan is
# sort-based: collapse to one row per price (groupBy — shuffle width =
# distinct prices), then a scale-safe EXCLUSIVE prefix-max of size over
# price order (operators/ranks.py::global_prefix_agg — range-sliced,
# never a single-task window).  A part survives iff no strictly cheaper
# price has seen a strictly larger size: prefix_max(sizes | price' <
# price) ≤ p_size.  One row per price makes ROWS .. 1 PRECEDING exactly
# the "strictly cheaper" set.  Linear shuffles only; survives 100×.
# ---------------------------------------------------------------------------
@query(
    "q97_skyline_pareto",
    bench=True,
    doc="2-D Pareto frontier via range-sliced exclusive prefix-max "
    "(operators.ranks.global_prefix_agg), O(n log n) not O(n²)",
    oracle="""
    WITH g AS (
      -- unknown price has no place on the frontier axis: excluded
      -- explicitly, or its gmax would poison the prefix-max on one
      -- engine only (Spark ranges NULLs first, DuckDB windows them last)
      SELECT p_retailprice AS price, MAX(p_size) AS gmax
      FROM part WHERE p_retailprice IS NOT NULL GROUP BY 1
    ),
    pm AS (
      SELECT price,
             MAX(gmax) OVER (ORDER BY price
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS pmax
      FROM g
    )
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p JOIN pm ON p.p_retailprice = pm.price
    WHERE pm.pmax IS NULL OR pm.pmax <= p.p_size
    """,
)
def q97_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_batch_spark.operators.ranks import global_prefix_agg

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    # NULL prices are off the frontier axis — see the oracle note
    g = (
        p.filter(F.col("p_retailprice").isNotNull())
        .groupBy(F.col("p_retailprice").alias("price"))
        .agg(F.max("p_size").alias("gmax"))
    )
    pm = global_prefix_agg(
        g, [F.col("price").asc()], F.col("gmax"), "pmax",
        agg="max", inclusive=False,
    ).select("price", "pmax")
    return (
        p.join(pm, p.p_retailprice == pm.price)
        .filter(F.col("pmax").isNull() | (F.col("pmax") <= F.col("p_size")))
        .select("p_partkey", "p_retailprice", "p_size")
    )


# ---------------------------------------------------------------------------
# q98 — native linear-regression aggregate surface (regr_slope /
# regr_intercept / regr_r2 / regr_count): per-returnflag OLS of revenue
# on quantity.  Complements q49's corr/covar/stddev family with the
# regression aggregates — all JVM-side partial-aggregating built-ins
# (one map-side-combined shuffle on a 3-value key), which is the whole
# point vs collecting points to fit client-side.
# ---------------------------------------------------------------------------
@query(
    "q98_grouped_regression",
    doc="native regr_* aggregate surface: per-flag OLS of price on "
    "quantity (map-side-combined, no client-side fit)",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_points,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q98_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.regr_count("l_extendedprice", "l_quantity").cast("bigint").alias("n_points"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# q99 — gaps-and-islands interval merge: each order opens a 7-day
# activity window; overlapping windows per customer merge into spans.
# The classic sweep: a running max of interval ends over the per-
# customer start order marks island breaks (start > furthest end seen
# ⇒ new span), a running sum of breaks numbers the islands, and a
# two-level aggregate summarizes.  Every window is PARTITIONED BY the
# customer — per-key sequential logic, cluster-parallel across keys —
# and the arithmetic is all integer dates, so the oracle replays the
# exact same windows.
# ---------------------------------------------------------------------------
@query(
    "q99_merged_order_spans",
    bench=True,
    doc="per-customer merge of overlapping 7-day order windows "
    "(gaps-and-islands: cummax end + break cumsum)",
    oracle="""
    WITH iv AS (
      SELECT o_custkey AS custkey, o_orderkey AS k,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + 7 AS e
      FROM orders
    ),
    marked AS (
      SELECT custkey, k, s, e,
             CASE WHEN s > MAX(e) OVER (PARTITION BY custkey ORDER BY s, k
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                                 AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS brk
      FROM iv
    ),
    islands AS (
      SELECT custkey, k, s, e,
             SUM(brk) OVER (PARTITION BY custkey ORDER BY s, k
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM marked
    ),
    spans AS (
      SELECT custkey, island, MIN(s) AS span_start, MAX(e) AS span_end,
             COUNT(*) AS n_orders
      FROM islands GROUP BY 1, 2
    )
    SELECT custkey,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_end - span_start) AS BIGINT) AS covered_days,
           CAST(MAX(n_orders) AS BIGINT) AS max_span_orders
    FROM spans GROUP BY custkey
    """,
)
def q99_merged_order_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("k"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 7).alias("e"),
    )
    w_prev = (
        W.partitionBy("custkey")
        .orderBy("s", "k")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("custkey").orderBy("s", "k").rowsBetween(W.unboundedPreceding, 0)
    )
    marked = iv.withColumn(
        "brk",
        F.when(F.col("s") > F.max("e").over(w_prev), 1).otherwise(0),
    )
    islands = marked.withColumn("island", F.sum("brk").over(w_run))
    spans = islands.groupBy("custkey", "island").agg(
        F.min("s").alias("span_start"),
        F.max("e").alias("span_end"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return spans.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.datediff("span_end", "span_start")).cast("bigint").alias("covered_days"),
        F.max("n_orders").cast("bigint").alias("max_span_orders"),
    )


# ---------------------------------------------------------------------------
# q100 — ranking-distribution window surface: ntile / percent_rank /
# cume_dist / nth_value / first+last over an explicit full frame — the
# remaining window functions q15/q41/q50 don't cover.  All windows are
# PARTITIONED BY market segment with a unique (acctbal, custkey) order,
# so there are no tie ambiguities and no single-task window.
# ---------------------------------------------------------------------------
@query(
    "q100_window_rank_surface",
    bench=True,
    doc="ntile/percent_rank/cume_dist/nth_value/first+last window "
    "surface over segment partitions",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           NTILE(4) OVER w AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pr,
           ROUND(CUME_DIST() OVER w, 6) AS cd,
           NTH_VALUE(c_acctbal, 3) OVER wf AS third_bal,
           FIRST_VALUE(c_acctbal) OVER wf AS min_bal,
           LAST_VALUE(c_acctbal) OVER wf AS max_bal
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal NULLS LAST, c_custkey),
           wf AS (PARTITION BY c_mktsegment
                  ORDER BY c_acctbal NULLS LAST, c_custkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q100_window_rank_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    # NULLS LAST pinned on both sides — see q50
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc_nulls_last(), "c_custkey"
    )
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.nth_value("c_acctbal", 3).over(wf).alias("third_bal"),
        F.first("c_acctbal").over(wf).alias("min_bal"),
        F.last("c_acctbal").over(wf).alias("max_bal"),
    )
