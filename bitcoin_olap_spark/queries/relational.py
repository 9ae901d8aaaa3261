"""Projections, filters, and predicates (SURVEY.md §2.2).

Everything here is a narrow Catalyst expression over a single scan —
these all collapse into the parquet scan via predicate pushdown and
column pruning (verify: .explain shows PushedFilters/ReadSchema), so at
100 TB each query reads only the rowgroups and columns it touches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_parquet, table
from ..functions import exact_sum, oracle_exact_sum, ts_lit
from ..registry import query


@query(
    "prj_select_alias",
    oracle="""
    SELECT l_orderkey AS orderkey, l_linenumber AS line_no,
           l_extendedprice AS price, l_returnflag AS flag
    FROM lineitem
    """,
)
def prj_select_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column subset + rename (mirrors `iaddress AS wallet_address`,
    btcolap.sql:44-49)."""
    return table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_returnflag").alias("flag"),
    )


@query(
    "prj_lit_tag",
    oracle="""
    SELECT event_id, event_type, 'event' AS rowtype, 1 AS batch_no
    FROM events
    """,
)
def prj_lit_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal column injection for branch provenance (mirrors
    `'input' AS type`, btcolap.sql:106)."""
    return table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.lit("event").alias("rowtype"),
        F.lit(1).cast("int").alias("batch_no"),
    )


@query(
    "prj_case_when",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_discount > 0.05 THEN 'high'
                WHEN l_discount > 0.02 THEN 'mid'
                ELSE 'low' END AS disc_band,
           CASE WHEN l_tax < 0.04 THEN NULL ELSE l_returnflag END AS flag_or_null
    FROM lineitem
    """,
)
def prj_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN: sign->label banding (btcolap.sql:214) and the
    conditional NULL-out used by the dedup rewrite (dupedeleter.sql:4-13)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_discount") > 0.05, "high")
        .when(F.col("l_discount") > 0.02, "mid")
        .otherwise("low")
        .alias("disc_band"),
        F.when(F.col("l_tax") < 0.04, F.lit(None)).otherwise(
            F.col("l_returnflag")
        ).alias("flag_or_null"),
    )


@query(
    "flt_ts_range",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate
    FROM lineitem
    WHERE l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <= TIMESTAMP '1997-06-30 00:00:00'
    """,
)
def flt_ts_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp-range filter, the reference's period split
    (`TIMESTAMP(block_timestamp) > '2021-09-24'`, btcolap.sql:97, :322,
    :370). Literal is cast to the column's own (NTZ) type; pushdown
    reaches the scan's rowgroup stats."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") > ts_lit(li, "l_shipdate", "1996-01-01 00:00:00"))
        & (F.col("l_shipdate") <= ts_lit(li, "l_shipdate", "1997-06-30 00:00:00"))
    ).select("l_orderkey", "l_linenumber", "l_shipdate")


@query(
    "flt_eq_or",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_linenumber = 1 OR l_quantity = 1
    """,
)
def flt_eq_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality + OR compound predicate (mirrors `tx.input_count = 1 OR
    tx.output_count = 1`, btcolap.sql:115)."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_linenumber") == 1) | (F.col("l_quantity") == 1))
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@query(
    "flt_col_eq_col",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_tax, l_discount
    FROM lineitem
    WHERE l_tax = l_discount
    """,
)
def flt_col_eq_col(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-to-column predicate (mirrors `tx.input_count =
    tx.output_count`, btcolap.sql:187)."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_tax") == F.col("l_discount"))
        .select("l_orderkey", "l_linenumber", "l_tax", "l_discount")
    )


@query(
    "flt_str_eq_ne",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_linestatus != 'O'
    """,
)
def flt_str_eq_ne(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String equality + inequality (mirrors `type = 'input' AND
    location != 'China'`, btc_logregression_post.py:38)."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_linestatus") != "O"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus")
    )


@query(
    "flt_in_subquery",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
    """,
)
def flt_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN (subquery) as a left-semi join (mirrors the keep/delete-by-
    subquery dedup, btcolap.sql:290-298). The filter side is explicitly
    broadcast: a keep/delete key list is small relative to the fact by
    construction (it is the output of a selective predicate), and the
    hint saves the fact-side shuffle AQE would only elide after paying
    the first exchange."""
    li = table(spark, sf_dir, "lineitem")
    keys = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    return li.join(
        F.broadcast(keys), li.l_orderkey == keys.o_orderkey, "left_semi"
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")


@query(
    "flt_post_agg_threshold",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           COUNT(*) AS n_purchases
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1
    HAVING COUNT(*) > 60
    """,
)
def flt_post_agg_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation threshold filter — the reference does it
    driver-side in pandas (`daily_inputs[daily_inputs['txid_input'] > 1]`,
    btc_logregression_pre.py:28); kept in-engine as a HAVING so the
    filter runs before any collect."""
    from ..functions import day

    return (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(day("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_purchases"))
        .filter(F.col("n_purchases") > 60)
    )


@query(
    "flt_dropna",
    oracle="""
    SELECT l_orderkey, l_linenumber, flag FROM (
        SELECT l_orderkey, l_linenumber, NULLIF(l_returnflag, 'R') AS flag
        FROM lineitem)
    WHERE flag IS NOT NULL
    """,
)
def flt_dropna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-row removal (`merged_data_subset.dropna()`,
    btc_logregression_pre.py:142) via df.na.drop."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_returnflag") == "R", F.lit(None))
        .otherwise(F.col("l_returnflag"))
        .alias("flag"),
    )
    return li.na.drop()


@query(
    "flt_exists_sql",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_quantity >= 49)
    """,
)
def flt_exists_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the spark.sql surface: Catalyst
    rewrites the subquery to a left-semi join (same physical plan the
    DataFrame API's join(..., 'left_semi') produces — flt_in_subquery's
    twin from the SQL entry point, SURVEY.md §3.2). Registers the
    needed temp views, then plans one SQL statement."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM v_orders o
        WHERE EXISTS (SELECT 1 FROM v_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_quantity >= 49)
        """
    )


@query(
    "flt_in_rowvalue_sql",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
    FROM lineitem l
    WHERE EXISTS (
        SELECT 1 FROM lineitem g
        WHERE g.l_orderkey = l.l_orderkey AND g.l_quantity = l.l_quantity
        GROUP BY g.l_orderkey, g.l_quantity HAVING COUNT(*) > 1)
    """,
)
def flt_in_rowvalue_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-value `(a, b) IN (subquery)` through the spark.sql surface —
    the literal dialect shape of the reference's dedup-DELETE predicate
    (`WHERE (hash, index) IN (SELECT hash, index ... HAVING COUNT > 1)`,
    btcolap.sql:3-4). Catalyst rewrites the multi-column IN to a
    left-semi join on both key columns — semantically the twin of
    flt_in_subquery/agg_dedup_rownum, entered from SQL. (DuckDB cannot
    bind a multi-column IN subquery, so the oracle states the same
    semantics as a correlated EXISTS.) The subquery is
    an aggregate of the fact itself, so both sides shuffle on the same
    (orderkey, quantity) key and AQE reuses the exchange."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, l_quantity
        FROM v_lineitem
        WHERE (l_orderkey, l_quantity) IN (
            SELECT l_orderkey, l_quantity FROM v_lineitem
            GROUP BY l_orderkey, l_quantity HAVING COUNT(*) > 1)
        """
    )


@query(
    "sql_cte_window",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', CAST(o_orderdate AS TIMESTAMP))
                    AS TIMESTAMP) AS day,
               o_orderpriority,
               COUNT(*) AS n_orders
        FROM orders GROUP BY 1, 2
    ), ranked AS (
        SELECT day, o_orderpriority, n_orders,
               row_number() OVER (
                   PARTITION BY day
                   ORDER BY n_orders DESC, o_orderpriority) AS rk
        FROM daily
    )
    SELECT day, o_orderpriority, n_orders
    FROM ranked WHERE rk = 1
    """,
)
def sql_cte_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level CTE chain with a window function, entered through
    the spark.sql surface — the reference's dominant dialect shape (its
    whole pipeline is one nested WITH chain, btcolap.sql:35-451, with
    row_number dedup at :9 and :295). Catalyst inlines the CTEs and
    plans the identical aggregate->window->filter DAG the DataFrame API
    would build; the window is partitioned by day. Spark SQL lacks
    QUALIFY, so the rank filter is the standard subquery form — the
    oracle states the same."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("v_scw_orders")
    return spark.sql(
        """
        WITH daily AS (
            SELECT date_trunc('day', o_orderdate) AS day,
                   o_orderpriority,
                   COUNT(*) AS n_orders
            FROM v_scw_orders GROUP BY 1, 2
        ), ranked AS (
            SELECT day, o_orderpriority, n_orders,
                   row_number() OVER (
                       PARTITION BY day
                       ORDER BY n_orders DESC, o_orderpriority) AS rk
            FROM daily
        )
        SELECT day, o_orderpriority, n_orders
        FROM ranked WHERE rk = 1
        """
    )


@query(
    "flt_dpp_join",
    oracle=f"""
    WITH dim AS (
        SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events WHERE user_id % 100 = 7 AND value > 150
    )
    SELECT e.event_type, COUNT(*) AS n,
           {oracle_exact_sum('e.value', 'total')}
    FROM (SELECT event_type, value,
                 CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
          FROM events) e
    JOIN dim USING (day)
    GROUP BY 1
    """,
)
def flt_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP): the fact side is the
    date-partitioned events materialization, the dim side is a
    runtime-computed day set (active days of a user cohort) no
    planner can know statically. Catalyst inserts a dynamicpruning
    subquery on the fact scan's partition column: the dim's day values
    are computed first (reusing its broadcast exchange) and only the
    matching day directories are listed and read — at 100 TB this is
    the difference between scanning 3 partitions and 3000. Static
    pruning (snk_partitioned_prune) handles literal predicates; DPP
    covers the join-driven case every star-schema query hits
    ("this quarter's fact rows for these dim members"). The plan test
    pins PartitionFilters: [dynamicpruning...] in the scan."""
    from .sources import _events_by_day

    fact = read_parquet(spark, _events_by_day(spark, sf_dir)).select(
        "event_type", "value", "day"
    )
    dim = (
        table(spark, sf_dir, "events")
        .filter((F.col("user_id") % 100 == 7) & (F.col("value") > 150))
        .select(F.to_date("ts").alias("day"))
        .distinct()
    )
    return fact.join(dim, "day").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), exact_sum("value", "total")
    )
