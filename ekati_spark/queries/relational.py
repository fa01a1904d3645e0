"""Relational operator inventory (SURVEY.md §2.3).

The reference has no relational algebra (SURVEY §2 "explicitly absent");
these queries declare the Spark-native surface of the new engine: scans,
projection/filter, every join type, aggregation (incl. distinct, rollup/
cube/grouping sets), window functions, sort/top-k, set ops, scalar
string/date/math/array/map/JSON functions, subqueries, pivot, as-of and
range joins. Each has a DuckDB oracle with identical column names.

All implementations are declarative DataFrame/SQL plans — Catalyst picks
broadcast vs sort-merge joins, pushes filters into the parquet scans, and
prunes columns; nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ekati_spark.catalog import load_table
from ekati_spark.checkpoint import cut_lineage
from ekati_spark.queries.base import davg, dsum, register, sql_davg, sql_dsum


def _t(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    return [load_table(spark, sf_dir, n) for n in names]


# ---------------------------------------------------------------------------
# Scans, projection, filter (pushdown verified in tests via .explain)
# ---------------------------------------------------------------------------


@register(
    "r01_scan_count",
    oracle="SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem",
)
def r01_scan_count(spark, sf_dir):
    """Full scan + count (reference full scan, FileStore.fs:300-315)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.agg(F.count("*").alias("n"))


@register(
    "r02_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           l_extendedprice * (1 - l_discount) AS disc_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate <  TIMESTAMP '1996-01-01'
      AND l_returnflag = 'R'
    """,
)
def r02_filter_project(spark, sf_dir):
    """Projection + predicates pushed to the parquet scan."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_returnflag") == "R")
        ).select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "disc_price"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "r03_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def r03_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary — the flagship aggregate.

    Partial (map-side) aggregation + final merge is Spark's default
    hash-aggregate strategy; decimal accumulation keeps the doubles
    bit-identical to the sequential oracle.
    """
    (li,) = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price, 6).alias("sum_disc_price"),
            dsum(charge, 6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "r04_single_row_agg",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 6)} AS revenue,
           CAST(count(*) AS BIGINT) AS n,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_quantity < 25
    """,
)
def r04_single_row_agg(spark, sf_dir):
    """TPC-H Q6-style scalar aggregate (filter → single row)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1996-01-01")
            & (F.col("l_quantity") < 25)
        ).agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 6).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
        )
    )


@register(
    "r05_count_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def r05_count_distinct(spark, sf_dir):
    """Distinct aggregation (expand + two-phase agg under the hood)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count("*").alias("n"),
    )


@register(
    "r06_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,4))) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def r06_rollup(spark, sf_dir):
    """Hierarchical subtotals (rollup)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), dsum("l_quantity").alias("sum_qty")
    )


@register(
    "r07_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def r07_cube(spark, sf_dir):
    """All grouping combinations (cube)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))


@register(
    "r08_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def r08_grouping_sets(spark, sf_dir):
    """Explicit grouping sets via SQL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Joins — every type; broadcast for dims, sort-merge for fact-fact
# ---------------------------------------------------------------------------


@register(
    "r09_join_broadcast_dims",
    oracle="""
    SELECT r_name AS region, n_name AS nation,
           CAST(count(*) AS BIGINT) AS customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,4))) AS DOUBLE) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def r09_join_broadcast_dims(spark, sf_dir):
    """Star join: fact ⋈ broadcast(dim) ⋈ broadcast(dim) — no shuffle joins."""
    cust, nat, reg = _t(spark, sf_dir, "customer", "nation", "region")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("customers"),
            dsum("c_acctbal").alias("total_bal"),
        )
    )


@register(
    "r10_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def r10_shipping_priority(spark, sf_dir):
    """TPC-H Q3-style: selective fact-fact join + agg + deterministic top-k."""
    cust, ords, li = _t(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(ords, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < "1995-03-15")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > "1995-03-15")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "r11_local_supplier_volume",
    oracle=f"""
    SELECT n_name AS nation,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def r11_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-style multi-way join with a compound join condition."""
    cust, ords, li, supp, nat = _t(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation"
    )
    return (
        cust.join(ords, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
            ).alias("revenue")
        )
    )


@register(
    "r12_join_left",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(25,4))), 0) AS DOUBLE)
               AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def r12_join_left(spark, sf_dir):
    """Left outer join preserving customers with no orders."""
    cust, ords = _t(spark, sf_dir, "customer", "orders")
    return (
        cust.join(ords, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


@register(
    "r13_join_full_outer",
    oracle="""
    WITH cn AS (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
)
def r13_join_full_outer(spark, sf_dir):
    """Full outer join of two aggregates with coalesced keys."""
    cust, supp = _t(spark, sf_dir, "customer", "supplier")
    cn = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count("*").alias("n_cust")
    )
    sn = supp.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count("*").alias("n_supp")
    )
    return cn.join(sn, cn.nk == sn.nk, "full_outer").select(
        F.coalesce(cn.nk, sn.nk).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@register(
    "r14_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def r14_join_semi(spark, sf_dir):
    """Left-semi join (EXISTS)."""
    cust, ords = _t(spark, sf_dir, "customer", "orders")
    urgent = ords.filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "r15_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def r15_join_anti(spark, sf_dir):
    """Left-anti join (NOT EXISTS) — the reference's visited-set dedup shape."""
    cust, ords = _t(spark, sf_dir, "customer", "orders")
    return cust.join(
        ords, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "r16_cross_theta",
    oracle="""
    SELECT a.n_name AS nation_a, b.n_name AS nation_b
    FROM nation a CROSS JOIN nation b
    WHERE a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def r16_cross_theta(spark, sf_dir):
    """Cross join + theta filter (same-region nation pairs)."""
    (nat,) = _t(spark, sf_dir, "nation")
    a = nat.alias("a")
    b = nat.alias("b")
    return (
        a.crossJoin(b)
        .filter(
            (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
            & (F.col("a.n_nationkey") < F.col("b.n_nationkey"))
        )
        .select(
            F.col("a.n_name").alias("nation_a"),
            F.col("b.n_name").alias("nation_b"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


@register(
    "r17_window_topk_per_group",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY c_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM customer JOIN orders ON c_custkey = o_custkey
    ) WHERE rn <= 3
    """,
)
def r17_window_topk_per_group(spark, sf_dir):
    """Top-3 orders per customer (ranking window, deterministic tiebreak)."""
    cust, ords = _t(spark, sf_dir, "customer", "orders")
    w = W.partitionBy("c_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        cust.join(ords, F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@register(
    "r18_window_running_sum",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,4)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def r18_window_running_sum(spark, sf_dir):
    """Running total per customer (aggregate over a rows frame)."""
    (ords,) = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return ords.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(25,4)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


@register(
    "r19_window_lag_lead",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           lag(o_orderkey) OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order,
           CAST(date_diff('day',
                lag(o_orderdate) OVER w, o_orderdate) AS BIGINT)
             AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def r19_window_lag_lead(spark, sf_dir):
    """lag/lead analytics + date arithmetic between rows."""
    (ords,) = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return ords.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("long").alias("days_since_prev"),
    )


@register(
    "r20_window_rank_ntile",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(rank()       OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           CAST(ntile(4)     OVER w AS INTEGER) AS quartile,
           first_value(o_orderkey) OVER w AS top_order
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def r20_window_rank_ntile(spark, sf_dir):
    """rank / dense_rank / ntile / first_value over one window."""
    (ords,) = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return ords.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.first("o_orderkey").over(w).alias("top_order"),
    )


@register(
    "r21_window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                               RANGE BETWEEN 1000 PRECEDING AND 1000 FOLLOWING)
                AS BIGINT) AS peers_within_1k
    FROM orders
    """,
)
def r21_window_range_frame(spark, sf_dir):
    """RANGE frame: peers within ±1000 of this order's price."""
    (ords,) = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, 1000)
    )
    return ords.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count("*").over(w).alias("peers_within_1k"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k / offset  +  set operations
# ---------------------------------------------------------------------------


@register(
    "r22_global_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20
    """,
)
def r22_global_topk(spark, sf_dir):
    """Global top-k (TakeOrderedAndProject — no full sort at scale)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(
            F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
        )
        .limit(20)
    )


@register(
    "r23_offset_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 15 OFFSET 30
    """,
)
def r23_offset_limit(spark, sf_dir):
    """skip/limit with the canonical deterministic ordering (SURVEY §2 #13-14)."""
    (ords,) = _t(spark, sf_dir, "orders")
    return (
        ords.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(30)
        .limit(15)
    )


@register(
    "r24_set_ops",
    oracle="""
    WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
         sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
    SELECT 'union' AS op, nk FROM (SELECT nk FROM cn UNION SELECT nk FROM sn)
    UNION ALL
    SELECT 'intersect' AS op, nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
    UNION ALL
    SELECT 'except' AS op, nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
    """,
)
def r24_set_ops(spark, sf_dir):
    """union / intersect / except over nation-key sets, tagged by op."""
    cust, supp = _t(spark, sf_dir, "customer", "supplier")
    cn = cust.select(F.col("c_nationkey").alias("nk")).distinct()
    sn = supp.select(F.col("s_nationkey").alias("nk")).distinct()
    tag = lambda df, op: df.select(F.lit(op).alias("op"), "nk")  # noqa: E731
    return (
        tag(cn.union(sn).distinct(), "union")
        .unionByName(tag(cn.intersect(sn), "intersect"))
        .unionByName(tag(cn.exceptAll(sn.distinct()).distinct(), "except"))
    )


# ---------------------------------------------------------------------------
# Scalar functions: string / date / math / conditional / JSON / array
# ---------------------------------------------------------------------------


@register(
    "r25_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           lower(p_type) AS type_lower,
           substr(p_name, 1, 8) AS name_prefix,
           CAST(length(p_name) AS INTEGER) AS name_len,
           concat(p_brand, ':', p_type) AS brand_type,
           trim(p_name) AS name_trim,
           replace(p_type, ' ', '_') AS type_snake,
           CASE WHEN p_type LIKE '%BRUSHED%' THEN 1 ELSE 0 END AS is_brushed
    FROM part
    """,
)
def r25_string_funcs(spark, sf_dir):
    """String function coverage: case, substr, length, concat, trim, replace, LIKE."""
    (part,) = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.when(F.col("p_type").like("%BRUSHED%"), 1).otherwise(0).alias("is_brushed"),
    )


@register(
    "r26_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-12-31') AS INTEGER)
             AS days_to_eoy,
           CAST(o_orderdate + INTERVAL 3 MONTH AS TIMESTAMP) AS plus3m,
           CAST(epoch(o_orderdate) AS BIGINT) AS unix_sec
    FROM orders
    """,
)
def r26_date_funcs(spark, sf_dir):
    """Date/time coverage: extract, trunc, diff, interval add, epoch."""
    (ords,) = _t(spark, sf_dir, "orders")
    return ords.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.lit("1998-12-31").cast("timestamp"), F.col("o_orderdate"))
        .cast("int")
        .alias("days_to_eoy"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTH")).alias("plus3m"),
        F.unix_timestamp("o_orderdate").alias("unix_sec"),
    )


@register(
    "r27_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * 1.1, 2) AS bumped,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(ceil(l_quantity / 7) AS BIGINT) AS q_ceil,
           CAST(floor(l_quantity / 7) AS BIGINT) AS q_floor,
           round(sqrt(l_extendedprice), 6) AS price_sqrt,
           round(ln(l_extendedprice), 6) AS price_ln,
           round(power(l_quantity, 2), 1) AS q_sq,
           CAST(l_quantity AS BIGINT) % 5 AS q_mod
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def r27_math_funcs(spark, sf_dir):
    """Math coverage: round/abs/ceil/floor/sqrt/ln/pow/mod (rounded for libm parity)."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 50 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 1.1, 2).alias("bumped"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil(F.col("l_quantity") / 7).alias("q_ceil"),
        F.floor(F.col("l_quantity") / 7).alias("q_floor"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", F.lit(2)), 1).alias("q_sq"),
        (F.col("l_quantity").cast("long") % 5).alias("q_mod"),
    )


@register(
    "r28_case_null",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS bal_band,
           COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg,
           (c_acctbal IS NOT DISTINCT FROM 0.0) AS is_zero,
           CASE WHEN c_custkey % 2 = 0 THEN NULL ELSE c_custkey END AS odd_key
    FROM customer
    """,
)
def r28_case_null(spark, sf_dir):
    """CASE / COALESCE / NULLIF / null-safe equality / produced NULLs."""
    (cust,) = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("MACHINERY")), F.lit("OTHER")).alias(
            "seg"
        ),
        F.col("c_acctbal").eqNullSafe(F.lit(0.0)).alias("is_zero"),
        F.when(F.col("c_custkey") % 2 == 0, None)
        .otherwise(F.col("c_custkey"))
        .alias("odd_key"),
    )


@register(
    "r29_json_extract",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    """,
)
def r29_json_extract(spark, sf_dir):
    """JSON field extraction from the events.props string column."""
    (ev,) = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )


@register(
    "r30_array_ops",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
             AS n_distinct,
           array_to_string(
             list_sort(list_distinct(string_split(lower(text), ' ')))[1:5],
             '|') AS first_tokens
    FROM documents
    """,
)
def r30_array_ops(spark, sf_dir):
    """Array ops over tokenized text: size, distinct, sort, slice, join."""
    (docs,) = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))), 1, 5),
            "|",
        ).alias("first_tokens"),
    )


@register(
    "r31_higher_order_funcs",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 6))
                AS INTEGER) AS n_long_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '), t -> len(t)))
                AS BIGINT) AS total_chars,
           CAST(len(string_split(text, ' ')) > 10 AS BOOLEAN) AS is_longish
    FROM documents
    """,
)
def r31_higher_order_funcs(spark, sf_dir):
    """Higher-order functions: filter / transform / aggregate over arrays."""
    (docs,) = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 6)).alias("n_long_tokens"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        (F.size(toks) > 10).alias("is_longish"),
    )


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------


@register(
    "r32_in_subquery",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'AUTOMOBILE')
    """,
)
def r32_in_subquery(spark, sf_dir):
    """IN subquery (planned as a semi-join)."""
    for n in ("orders", "customer"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_mktsegment = 'AUTOMOBILE')
        """
    )


@register(
    "r33_scalar_subquery",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
    WHERE l_extendedprice > 2 * (SELECT CAST(SUM(CAST(l_extendedprice AS
          DECIMAL(25,4))) AS DOUBLE) / COUNT(*) FROM lineitem)
    """,
)
def r33_scalar_subquery(spark, sf_dir):
    """Scalar subquery: rows above 2× the global average price."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        WHERE l_extendedprice > 2 * (SELECT CAST(SUM(CAST(l_extendedprice AS
              DECIMAL(25,4))) AS DOUBLE) / COUNT(*) FROM lineitem)
        """
    )


@register(
    "r34_correlated_exists",
    oracle="""
    SELECT p_partkey, p_name FROM part
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_partkey = p_partkey AND l_quantity >= 49)
    """,
)
def r34_correlated_exists(spark, sf_dir):
    """Correlated EXISTS (decorrelated by Catalyst into a semi-join)."""
    for n in ("part", "lineitem"):
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
    return spark.sql(
        """
        SELECT p_partkey, p_name FROM part
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_partkey = p_partkey AND l_quantity >= 49)
        """
    )


# ---------------------------------------------------------------------------
# Pivot, as-of join, range join
# ---------------------------------------------------------------------------


@register(
    "r35_pivot",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS n_open,
           CAST(count(*) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS n_filled,
           CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(25,4)))
                FILTER (WHERE l_linestatus = 'O'), 0) AS DOUBLE) AS qty_open,
           CAST(COALESCE(SUM(CAST(l_quantity AS DECIMAL(25,4)))
                FILTER (WHERE l_linestatus = 'F'), 0) AS DOUBLE) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def r35_pivot(spark, sf_dir):
    """Pivot (long → wide) with explicit value columns."""
    (li,) = _t(spark, sf_dir, "lineitem")
    is_o = F.col("l_linestatus") == "O"
    is_f = F.col("l_linestatus") == "F"
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(is_o, 1)).alias("n_open"),
        F.count(F.when(is_f, 1)).alias("n_filled"),
        F.coalesce(dsum(F.when(is_o, F.col("l_quantity"))), F.lit(0.0)).alias(
            "qty_open"
        ),
        F.coalesce(dsum(F.when(is_f, F.col("l_quantity"))), F.lit(0.0)).alias(
            "qty_filled"
        ),
    )


@register(
    "r36_unpivot",
    oracle="""
    SELECT c_custkey, metric, val FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
    )
    """,
)
def r36_unpivot(spark, sf_dir):
    """Unpivot (wide → long) via stack()."""
    (cust,) = _t(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal', c_acctbal,"
            " 'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, val)"
        ),
    ).select("c_custkey", "metric", "val")


@register(
    "r37_asof_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT max(o.o_orderdate) FROM orders o
            WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
             AS last_order_date
    FROM events e
    """,
)
def r37_asof_join(spark, sf_dir):
    """As-of join: latest order at-or-before each event, per user.

    Spark lacks a native as-of join; ``operators.asof.asof_join`` is one
    union+window pass: events and orders share one shuffle on the key,
    and each event takes the running max of the orders sorted before
    it. A hot user's whole history is sorted in one task.
    """
    ev, ords = _t(spark, sf_dir, "events", "orders")
    from ekati_spark.operators.asof import asof_join

    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        ords.select("o_custkey", "o_orderdate"),
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderdate").alias("last_order_date"),
    )


@register(
    "r38_range_join",
    oracle="""
    SELECT o.o_orderkey,
           CAST(count(e.event_id) AS BIGINT) AS events_day_after
    FROM orders o LEFT JOIN events e
      ON e.user_id = o.o_custkey
     AND e.ts >= o.o_orderdate
     AND e.ts <  o.o_orderdate + INTERVAL 1 DAY
    GROUP BY o.o_orderkey
    """,
)
def r38_range_join(spark, sf_dir):
    """Range (interval) join: events within 1 day after each order."""
    ev, ords = _t(spark, sf_dir, "events", "orders")
    cond = (
        (F.col("e.user_id") == F.col("o.o_custkey"))
        & (F.col("e.ts") >= F.col("o.o_orderdate"))
        & (F.col("e.ts") < F.col("o.o_orderdate") + F.expr("INTERVAL 1 DAY"))
    )
    return (
        ords.alias("o")
        .join(ev.alias("e"), cond, "left")
        .groupBy("o.o_orderkey")
        .agg(F.count("e.event_id").alias("events_day_after"))
    )


@register(
    "r39_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def r39_percentiles(spark, sf_dir):
    """Exact percentile aggregation — Spark's `percentile` and DuckDB's
    `quantile_cont` share linear interpolation; rounded to 4 decimals.
    (The sketch path, approx_percentile/KLL, is tested for error bounds
    in pytest — not oracle-matchable.)"""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99"),
    )


@register(
    "r40_resample_gapfill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ),
    grid AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
      FROM bounds
    ),
    hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total
      FROM events GROUP BY 1
    )
    SELECT CAST(g.bucket AS TIMESTAMP) AS bucket,
           COALESCE(h.n, 0) AS n,
           COALESCE(h.total, 0.0) AS total
    FROM grid g LEFT JOIN hourly h ON g.bucket = h.bucket
    """,
)
def r40_resample_gapfill(spark, sf_dir):
    """Time-series resample with gap filling: hourly buckets over the full
    event span via `sequence` (a dense grid even where no events landed),
    left-joined with the hourly aggregate. The grid generation is a
    1-row → explode, so the heavy side stays the plain aggregation."""
    (ev,) = _t(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket")
    )
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.count("*").alias("n"),
        dsum("value", 4).alias("total"),
    )
    return grid.join(hourly, "bucket", "left").select(
        "bucket",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("total", F.lit(0.0)).alias("total"),
    )


@register(
    "r41_map_functions",
    oracle="""
    SELECT o_custkey, o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n
    FROM orders WHERE o_custkey <= 100
    GROUP BY o_custkey, o_orderstatus
    """,
)
def r41_map_functions(spark, sf_dir):
    """Map-type round trip: per customer build map<status, n> with
    map_from_entries, transform values with transform_values, then
    explode back to rows for the (map-less) oracle — exercising the map
    construction / HOF / flatten surface without hashing MapType values
    (map iteration order is engine-specific)."""
    (ords,) = _t(spark, sf_dir, "orders")
    per = (
        ords.filter(F.col("o_custkey") <= 100)
        .groupBy("o_custkey", "o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    mapped = per.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.collect_list(F.struct("o_orderstatus", "n"))
        ).alias("m")
    )
    doubled = mapped.select(
        "o_custkey",
        F.transform_values("m", lambda k, v: v * 2).alias("m2"),
    )
    return doubled.select(
        "o_custkey", F.explode(F.col("m2")).alias("status", "n2")
    ).select("o_custkey", "status", (F.col("n2") / 2).cast("long").alias("n"))


@register(
    "r42_rank_distributions",
    oracle="""
    SELECT o_orderkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WHERE o_custkey <= 50
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
)
def r42_rank_distributions(spark, sf_dir):
    """Distribution window functions (percent_rank, cume_dist) with a
    deterministic total order (price, key)."""
    (ords,) = _t(spark, sf_dir, "orders")
    w = W.orderBy("o_totalprice", "o_orderkey")
    return (
        ords.filter(F.col("o_custkey") <= 50)
        .select(
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
    )


@register(
    "r43_sessionize_batch",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sess GROUP BY user_id, session_no
    """,
)
def r43_sessionize_batch(spark, sf_dir):
    """Batch sessionization via the classic gap-flag cumulative sum: a
    session starts when the gap to the previous event exceeds 30 min;
    running SUM of start flags numbers the sessions. The streaming twin
    is session_window (st03); this is the window-composition form."""
    (ev,) = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_start = F.when(
        gap.isNull() | (gap > 30 * 60), F.lit(1)
    ).otherwise(F.lit(0))
    wc = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sess = ev.select(
        "user_id",
        "ts",
        F.sum(is_start).over(wc).alias("session_no"),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "r44_stats_aggregates",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_pop(l_quantity, l_extendedprice), 4) AS covar,
           round(stddev_pop(l_discount), 6) AS sd_disc,
           round(var_pop(l_tax), 6) AS var_tax
    FROM lineitem GROUP BY l_returnflag
    """,
)
def r44_stats_aggregates(spark, sf_dir):
    """Statistical aggregates (corr, covar_pop, stddev_pop, var_pop) —
    both engines use numerically-stable streaming moment formulas; rounded
    before compare."""
    (li,) = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.covar_pop("l_quantity", "l_extendedprice"), 4).alias("covar"),
        F.round(F.stddev_pop("l_discount"), 6).alias("sd_disc"),
        F.round(F.var_pop("l_tax"), 6).alias("var_tax"),
    )


@register(
    "r45_conditional_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS n_finished,
           CAST(count(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT)
             AS n_large,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(25,4)))
             FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) AS open_value
    FROM orders GROUP BY o_orderpriority
    """,
)
def r45_conditional_agg(spark, sf_dir):
    """Conditional aggregation (FILTER clause / count_if shape) — one
    pass over the table computing several predicated aggregates."""
    (ords,) = _t(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(25,4)")
    return ords.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count_if(F.col("o_totalprice") > 100000).alias("n_large"),
        F.coalesce(
            F.sum(F.when(F.col("o_orderstatus") == "O", dec)),
            F.lit(0).cast("decimal(25,4)"),
        ).cast("double").alias("open_value"),
    )


@register(
    "r46_string_agg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def r46_string_agg(spark, sf_dir):
    """Ordered string aggregation (listagg WITHIN GROUP = DuckDB
    string_agg ORDER BY) — deterministic because the order is explicit."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """
        SELECT n_regionkey,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations
        FROM nation GROUP BY n_regionkey
        """
    )


@register(
    "r47_hll_sketch_rollup",
    oracle="""
    SELECT n.n_regionkey,
           CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS exact_customers,
           TRUE AS est_ok
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    """,
)
def r47_hll_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch rollup (Apache DataSketches HLL): per-nation
    customer sketches union-merged to region level, then estimated —
    the pre-aggregation pattern that makes distinct counts re-rollable
    at 100 TB (sketch tables merge; exact distincts don't). The sketch
    estimate itself isn't portable to DuckDB (different HLL impls), so
    the checkable contract is: exact distinct per region (hash-matched)
    plus ``est_ok`` = sketch estimate within 5% of exact (the oracle
    states TRUE; a broken sketch flips it). The tighter estimate-error
    distribution is asserted in pytest."""
    cust, nation = _t(spark, sf_dir, "customer", "nation")
    joined = cust.join(
        F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
    )
    per_nation = joined.groupBy("n_regionkey", "n_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk")
    )
    approx = (
        per_nation.groupBy("n_regionkey")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            "n_regionkey",
            F.hll_sketch_estimate("sk").cast("long").alias("approx_customers"),
        )
    )
    exact = joined.groupBy("n_regionkey").agg(
        F.count_distinct("c_custkey").alias("exact_customers")
    )
    return exact.join(approx, "n_regionkey").select(
        "n_regionkey",
        "exact_customers",
        (
            F.abs(F.col("approx_customers") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("est_ok"),
    )


@register(
    "r48_salted_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, suppkey, s_name
    FROM (SELECT l_suppkey AS suppkey, l_orderkey, l_linenumber, l_quantity
          FROM lineitem WHERE l_quantity = 50) big
    JOIN (SELECT s_suppkey AS suppkey, s_name FROM supplier) small
      USING (suppkey)
    """,
)
def r48_salted_join(spark, sf_dir):
    """Skew-resistant salted join, oracle-checked against the plain SQL
    join: the salt spreads each (possibly hot) key over n_salts tasks
    while the result stays row-identical (operators/skew.salted_join).
    At 100 TB this is the fallback when AQE skew splitting can't help
    (single hot key, replicable small side)."""
    from ekati_spark.operators.skew import salted_join

    li, supp = _t(spark, sf_dir, "lineitem", "supplier")
    big = li.filter(F.col("l_quantity") == 50).select(
        F.col("l_suppkey").alias("suppkey"),
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
    )
    small = supp.select(F.col("s_suppkey").alias("suppkey"), "s_name")
    return salted_join(big, small, "suppkey", n_salts=8).select(
        "l_orderkey", "l_linenumber", "suppkey", "s_name"
    )


@register(
    "r49_data_quality_audit",
    oracle="""
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey))
        AS orphan_lineitems,
      (SELECT CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
        AS orphan_orders,
      (SELECT CAST(count(*) AS BIGINT) FROM
        (SELECT o_orderkey FROM orders GROUP BY o_orderkey
         HAVING count(*) > 1)) AS dup_orderkeys,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem
        WHERE l_quantity IS NULL OR l_extendedprice IS NULL)
        AS null_measures,
      (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate < o.o_orderdate)
        AS ship_before_order_violations
      FROM (SELECT 1) one
    """,
)
def r49_data_quality_audit(spark, sf_dir):
    """Pipeline data-quality audit: FK orphans (anti-joins), duplicate
    business keys, null measures, and a cross-table temporal invariant
    (ship date >= order date). The shape every ingestion pipeline runs
    before publishing a snapshot. Fully LAZY — five independent 1-row
    aggregates combined by cross products into one plan, so nothing
    executes at query-construction time and the checks parallelize as
    one job tree at scale."""
    li, ords, cust = _t(spark, sf_dir, "lineitem", "orders", "customer")
    orphan_li = (
        li.join(ords, li.l_orderkey == ords.o_orderkey, "left_anti")
        .agg(F.count("*").alias("orphan_lineitems"))
    )
    orphan_o = (
        ords.join(cust, ords.o_custkey == cust.c_custkey, "left_anti")
        .agg(F.count("*").alias("orphan_orders"))
    )
    dups = (
        ords.groupBy("o_orderkey")
        .count()
        .filter(F.col("count") > 1)
        .agg(F.count("*").alias("dup_orderkeys"))
    )
    nulls = li.filter(
        F.col("l_quantity").isNull() | F.col("l_extendedprice").isNull()
    ).agg(F.count("*").alias("null_measures"))
    viol = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .agg(F.count("*").alias("ship_before_order_violations"))
    )
    return (
        orphan_li.crossJoin(orphan_o)
        .crossJoin(dups)
        .crossJoin(nulls)
        .crossJoin(viol)
    )


@register(
    "r50_time_weighted_avg",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, value, epoch(ts) AS sec,
             lead(epoch(ts)) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS next_sec
      FROM events
    )
    SELECT user_id,
           round({sql_dsum('value * (next_sec - sec)', 6)} /
                 {sql_dsum('next_sec - sec', 6)}, 6) AS twap,
           CAST(count(*) AS BIGINT) AS n_intervals
    FROM seq WHERE next_sec IS NOT NULL
    GROUP BY user_id
    HAVING {sql_dsum('next_sec - sec', 6)} > 0
    """,
)
def r50_time_weighted_avg(spark, sf_dir):
    """Per-user time-weighted average (TWAP): each value weighted by the
    seconds until the user's next event. Window ``lead`` and its
    validity computed in the SAME projection (the window-after-filter
    trap), decimal-accumulated sums for order independence."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("double")
    seq = ev.select(
        "user_id",
        "value",
        sec.alias("sec"),
        F.lead(sec).over(w).alias("next_sec"),
    ).filter(F.col("next_sec").isNotNull())
    weight = F.col("next_sec") - F.col("sec")
    return (
        seq.groupBy("user_id")
        .agg(
            F.round(
                dsum(F.col("value") * weight, 6) / dsum(weight, 6), 6
            ).alias("twap"),
            F.count("*").cast("long").alias("n_intervals"),
            dsum(weight, 6).alias("__tw"),
        )
        .filter(F.col("__tw") > 0)
        .select("user_id", "twap", "n_intervals")
    )


@register(
    "r51_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, min(epoch_us(ts)) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t_click
      GROUP BY e.user_id
    )
    SELECT CAST(count(v.t_view) AS BIGINT) AS n_view_users,
           CAST(count(c.t_click) AS BIGINT) AS n_click_users,
           CAST(count(p.t_purchase) AS BIGINT) AS n_purchase_users,
           CAST(sum(c.t_click - v.t_view) AS DOUBLE) / count(c.t_click)
             AS avg_view_to_click_us,
           CAST(sum(p.t_purchase - c.t_click) AS DOUBLE) / count(p.t_purchase)
             AS avg_click_to_purchase_us
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def r51_funnel(spark, sf_dir):
    """Ordered conversion funnel over the event stream: first view ->
    first click strictly after it -> first purchase strictly after
    that, per user; one-row summary of stage populations and mean
    inter-stage latency. Timestamps compared as exact microsecond
    epochs (``unix_micros``), so the strictly-after semantics and the
    averages (exact BIGINT sums / exact counts, one double division)
    are bit-identical across engines. Each stage is one filtered
    aggregate + one equi-join on user_id — at scale all three stages
    shuffle on the same key, so the plan co-partitions; no windows, no
    cross products."""
    (ev,) = _t(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(us > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min(us).alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(us > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min(us).alias("t_purchase"))
    )
    joined = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return joined.agg(
        F.count("t_view").alias("n_view_users"),
        F.count("t_click").alias("n_click_users"),
        F.count("t_purchase").alias("n_purchase_users"),
        (
            F.sum(F.col("t_click") - F.col("t_view")).cast("double")
            / F.count("t_click")
        ).alias("avg_view_to_click_us"),
        (
            F.sum(F.col("t_purchase") - F.col("t_click")).cast("double")
            / F.count("t_purchase")
        ).alias("avg_click_to_purchase_us"),
    )


# Shared by the Spark query and the DuckDB oracle: both engines support
# SQL:2016 correlated LATERAL derived tables, so the text is identical.
_LATERAL_TOPK_SQL = """
    SELECT n.n_name, s.c_custkey, s.c_acctbal
    FROM nation n,
         LATERAL (SELECT c_custkey, c_acctbal
                  FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c.c_acctbal DESC, c.c_custkey
                  LIMIT 2) s
"""


@register("r52_lateral_topk", oracle=_LATERAL_TOPK_SQL)
def r52_lateral_topk(spark, sf_dir):
    """Correlated LATERAL derived table: top-2 customers by balance per
    nation, written as a lateral subquery rather than a window. Catalyst
    decorrelates the lateral into a join + per-group ranking, so the
    physical plan is the same shuffle-once shape as r17 — no per-row
    re-execution (the naive lateral reading) and no driver loop. Ties
    broken by c_custkey; identical SQL text runs on DuckDB as the
    oracle."""
    for t in ("nation", "customer"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOPK_SQL)


@register(
    "r53_sliding_distinct_users",
    oracle="""
    SELECT make_timestamp((CAST(floor(epoch(ts)/86400) AS BIGINT) - t.i)
             *86400*1000000) AS window_start,
           make_timestamp((CAST(floor(epoch(ts)/86400) AS BIGINT) - t.i + 7)
             *86400*1000000) AS window_end,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events, range(0, 7) t(i)
    GROUP BY 1, 2
    """,
)
def r53_sliding_distinct_users(spark, sf_dir):
    """Rolling 7-day active users, sliding by 1 day (the WAU/MAU shape).

    Two-level plan instead of the naive `window(ts,'7d','1d')` +
    count_distinct: first reduce to distinct (day, user) pairs — one
    shuffle over the raw events that shrinks them to at most
    |users| x |days| rows — and only then explode each pair into the 7
    windows it covers and count distinct users per window. At 100 TB
    the 7x row duplication happens on the reduced pair set, not the
    raw event stream; the naive plan duplicates every event 7 ways
    before any reduction. (Fully incremental variant: keep per-day HLL
    sketches and merge 7 per window — r47 shows the sketch path.)"""
    (ev,) = _t(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / F.lit(86400000000)).cast("long")
    pairs = ev.select(day.alias("slot"), "user_id").distinct()
    win = pairs.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "slot",
        "user_id",
    ).select((F.col("slot") - F.col("i")).alias("d"), "user_id")
    us = F.col("d") * F.lit(86400000000)
    return (
        win.groupBy("d")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.timestamp_micros(us).alias("window_start"),
            F.timestamp_micros(us + F.lit(7 * 86400000000)).alias(
                "window_end"
            ),
            "n_users",
        )
    )


@register(
    "r54_merge_upsert",
    oracle="""
    WITH updates AS (
      SELECT o_orderkey,
             o_totalprice + 1000.0 AS new_total,
             'P' AS new_status
      FROM orders WHERE o_orderkey % 7 = 0
      UNION ALL
      SELECT -o_orderkey AS o_orderkey,
             o_totalprice AS new_total,
             'N' AS new_status
      FROM orders WHERE o_orderkey % 1000 = 1
    )
    SELECT coalesce(u.o_orderkey, t.o_orderkey) AS o_orderkey,
           coalesce(u.new_total, t.o_totalprice) AS o_totalprice,
           coalesce(u.new_status, t.o_orderstatus) AS o_orderstatus,
           CASE WHEN t.o_orderkey IS NULL THEN 'insert'
                WHEN u.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END AS merge_action
    FROM orders t FULL OUTER JOIN updates u USING (o_orderkey)
    """,
)
def r54_merge_upsert(spark, sf_dir):
    """CDC upsert (SCD-type-1 MERGE) expressed Spark-first: target FULL
    OUTER JOIN the update feed on the key, coalesce updated columns,
    tag each row insert/update/keep. On a Delta/Iceberg table this is
    ``MERGE INTO`` (a transactional rewrite of matched files); the plan
    shape — one key-partitioned shuffle join, no driver loop — is
    identical, which is what matters at 100 TB. The synthetic feed
    updates every 7th order (+1000.00, an IEEE-exact double add — no
    rounding-mode divergence, status P) and inserts negated keys as new
    rows."""
    (orders,) = _t(spark, sf_dir, "orders")
    updates = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 1000.0).alias("new_total"),
        F.lit("P").alias("new_status"),
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 1000 == 1).select(
            (-F.col("o_orderkey")).alias("o_orderkey"),
            F.col("o_totalprice").alias("new_total"),
            F.lit("N").alias("new_status"),
        )
    )
    t = orders.select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    ).alias("t")
    u = updates.alias("u")
    return t.join(u, "o_orderkey", "full_outer").select(
        F.col("o_orderkey"),
        F.coalesce(F.col("new_total"), F.col("t.o_totalprice")).alias(
            "o_totalprice"
        ),
        F.coalesce(F.col("new_status"), F.col("o_orderstatus")).alias(
            "o_orderstatus"
        ),
        F.when(F.col("t.o_totalprice").isNull(), "insert")
        .when(F.col("new_total").isNull(), "keep")
        .otherwise("update")
        .alias("merge_action"),
    )


@register(
    "r55_locf_gapfill",
    oracle="""
    SELECT event_id, user_id, ts,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_purchase_value
    FROM events
    """,
)
def r55_locf_gapfill(spark, sf_dir):
    """Last-observation-carried-forward: every event carries the user's
    most recent purchase value (NULL until the first purchase) — the
    ignore-nulls window primitive (distinct from r40's dense-grid
    resample: no grid join, one partition-ordered window, scales as one
    shuffle on user_id). Tie-broken by event_id for a total order."""
    (ev,) = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    purchase_val = F.when(F.col("event_type") == "purchase", F.col("value"))
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.last(purchase_val, ignorenulls=True).over(w).alias(
            "last_purchase_value"
        ),
    )


@register(
    "r56_incremental_mv",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(count(*) AS BIGINT) AS order_cnt,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def r56_incremental_mv(spark, sf_dir):
    """Incremental materialized-view maintenance: a pre-computed base
    aggregate (orders with ``o_orderkey % 10 != 0``) is refreshed by
    merging a CDC delta batch's aggregate (the ``% 10 == 0`` keys) via a
    full-outer join + coalesced partial merge — count adds, decimal sums
    add — and the merged view is proven equal to a from-scratch
    recompute (the oracle aggregates the whole table directly). The
    point at 100 TB: the refresh shuffles only delta-sized data plus the
    (group-cardinality-sized) view, never the base fact table, which is
    the standard view-maintenance contract (self-maintainable SUM/COUNT
    aggregates under inserts). Decimal accumulation makes base+delta
    merge order bit-identical to the one-shot aggregate.
    """
    (orders,) = _t(spark, sf_dir, "orders")
    keys = ["o_orderpriority", "order_month"]

    def agg(df):
        return (
            df.withColumn(
                "order_month", F.date_trunc("month", "o_orderdate").cast("date")
            )
            .groupBy(*keys)
            .agg(
                F.count("*").alias("order_cnt"),
                F.sum(F.col("o_totalprice").cast("decimal(25,4)")).alias(
                    "_sum_price"
                ),
            )
        )

    base = agg(orders.filter(F.col("o_orderkey") % 10 != 0))
    delta = agg(orders.filter(F.col("o_orderkey") % 10 == 0))
    merged = base.alias("b").join(
        delta.alias("d"),
        on=[F.col(f"b.{k}").eqNullSafe(F.col(f"d.{k}")) for k in keys],
        how="full_outer",
    )
    pick = lambda k: F.coalesce(F.col(f"b.{k}"), F.col(f"d.{k}"))  # noqa: E731
    zero = F.lit(0).cast("decimal(25,4)")
    return merged.select(
        pick("o_orderpriority").alias("o_orderpriority"),
        pick("order_month").alias("order_month"),
        (
            F.coalesce(F.col("b.order_cnt"), F.lit(0))
            + F.coalesce(F.col("d.order_cnt"), F.lit(0))
        ).alias("order_cnt"),
        (
            F.coalesce(F.col("b._sum_price"), zero)
            + F.coalesce(F.col("d._sum_price"), zero)
        )
        .cast("double")
        .alias("total_price"),
    )


@register(
    "r57_max_concurrency",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps
    ),
    ival AS (
      SELECT min(ts) AS s, max(ts) AS e
      FROM sess GROUP BY user_id, session_no
    ),
    b AS (
      SELECT CAST(date_trunc('day', s) AS TIMESTAMP) AS day, s AS t,
             1 AS delta FROM ival
      UNION ALL
      SELECT CAST(date_trunc('day', e) AS TIMESTAMP), e, -1 FROM ival
    ),
    bb AS (
      SELECT day, t, delta FROM b
      UNION ALL
      SELECT DISTINCT day, day, 0 FROM b
    ),
    dt AS (SELECT day, SUM(delta) AS tot FROM bb GROUP BY day),
    carry AS (
      SELECT day,
             COALESCE(SUM(tot) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c
      FROM dt
    ),
    runs AS (
      SELECT bb.day, bb.t,
             SUM(bb.delta) OVER (PARTITION BY bb.day
               ORDER BY bb.t, bb.delta DESC ROWS UNBOUNDED PRECEDING)
               + carry.c AS conc
      FROM bb JOIN carry ON bb.day = carry.day
    ),
    peaked AS (
      SELECT day, t, conc, MAX(conc) OVER (PARTITION BY day) AS peak
      FROM runs
    )
    SELECT day, CAST(peak AS BIGINT) AS peak_concurrency,
           MIN(t) AS at_ts
    FROM peaked WHERE conc = peak GROUP BY day, peak
    """,
)
def r57_max_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day (the classic interval sweep):
    sessionize per user (r43's 30-min-gap sessions, closed intervals),
    emit +1/-1 boundary events, prefix-sum them in time order, and
    report each day's maximum concurrency with the earliest instant
    attaining it.

    Scale shape — the naive sweep is ONE global ordered prefix sum
    (a single-task window at any size); this is the two-level form:
    the running sum partitions by day (embarrassingly parallel), and
    cross-day state is recovered by adding each day's carry = sum of
    all prior days' boundary deltas — a #days-row window, driver-free
    and broadcast back onto the boundary stream. Determinism: ties at
    one instant permute partial sums of equal increments, so the set
    of prefix values (hence the max and its earliest instant) is
    order-independent; starts sort before ends at the same instant
    (closed intervals — a touching end/start pair counts concurrent,
    and single-event sessions still count themselves). A delta-0 row at
    each active day's midnight makes carried-over concurrency from a
    midnight-spanning session observable even when the day's first real
    boundary is an end event (the day's peak can BE the carry)."""
    (ev,) = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    is_start = F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(
        F.lit(0)
    )
    wc = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    sess = ev.select(
        "user_id", "ts", F.sum(is_start).over(wc).alias("session_no")
    )
    ival = sess.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    b = (
        ival.select(F.col("s").alias("t"), F.lit(1).alias("delta"))
        .unionByName(ival.select(F.col("e").alias("t"), F.lit(-1).alias("delta")))
        .withColumn("day", F.date_trunc("day", F.col("t")))
    )
    b = b.unionByName(
        b.select("day").distinct().select(
            F.col("day").alias("t"), F.lit(0).alias("delta"), "day"
        )
    ).transform(cut_lineage)  # consumed by day_tot AND runs: without
    # the cut the lazy DAG re-runs the sessionize windows per consumer
    day_tot = b.groupBy("day").agg(F.sum("delta").alias("tot"))
    wd = W.orderBy("day").rowsBetween(W.unboundedPreceding, -1)
    carry = day_tot.select(
        "day", F.coalesce(F.sum("tot").over(wd), F.lit(0)).alias("c")
    )
    wrun = (
        W.partitionBy("day")
        .orderBy(F.col("t").asc(), F.col("delta").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    runs = b.join(F.broadcast(carry), "day").select(
        "day", "t", (F.sum("delta").over(wrun) + F.col("c")).alias("conc")
    )
    peaked = runs.select(
        "day", "t", "conc", F.max("conc").over(W.partitionBy("day")).alias("peak")
    )
    return (
        peaked.filter(F.col("conc") == F.col("peak"))
        .groupBy("day", "peak")
        .agg(F.min("t").alias("at_ts"))
        .select("day", F.col("peak").alias("peak_concurrency"), "at_ts")
    )


@register(
    "r58_quantile_sketch",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_exact,
           TRUE AS est_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def r58_quantile_sketch(spark, sf_dir):
    """Approximate-quantile path (Greenwald-Khanna via
    ``percentile_approx``) with a verifiable error contract — the
    sketch twin of r47's HLL rollup: at 100 TB you pre-aggregate
    approximate quantiles (single-pass, bounded memory, partial-merge
    in the aggregate) instead of sorting for exact ones. The GK
    summary itself isn't portable to DuckDB, so the checkable contract
    is: exact p50/p95 per group (hash-matched, same formulation as
    r39) plus ``est_ok`` = the approx answers land within the
    configured rank error (accuracy=1000 => eps=0.001: the
    approx-p quantile must sit between the exact (p-3eps) and
    (p+3eps) quantiles). The oracle states TRUE; a broken sketch
    flips the row."""
    (li,) = _t(spark, sf_dir, "lineitem")
    eps = 0.001
    lo50, hi50 = 0.5 - 3 * eps, 0.5 + 3 * eps
    lo95, hi95 = 0.95 - 3 * eps, 0.95 + 3 * eps
    agg = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("e50"),
        F.expr("percentile(l_extendedprice, 0.95)").alias("e95"),
        F.expr(
            "percentile_approx(l_extendedprice, array(0.5, 0.95), 1000)"
        ).alias("a"),
        F.expr(
            f"percentile(l_extendedprice, array({lo50}, {hi50}, {lo95}, {hi95}))"
        ).alias("bounds"),
    )
    return agg.select(
        "l_returnflag",
        F.round("e50", 4).alias("p50_exact"),
        F.round("e95", 4).alias("p95_exact"),
        (
            (F.col("a")[0] >= F.col("bounds")[0])
            & (F.col("a")[0] <= F.col("bounds")[1])
            & (F.col("a")[1] >= F.col("bounds")[2])
            & (F.col("a")[1] <= F.col("bounds")[3])
        ).alias("est_ok"),
    )


@register(
    "r59_scd2_history",
    oracle="""
    WITH src AS (
      SELECT user_id, ts, event_id, round(value, 2) AS state
      FROM events WHERE event_type = 'purchase'
    ),
    ordered AS (
      SELECT user_id, ts, event_id, state,
             lag(state) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
      FROM src
    ),
    changed AS (
      SELECT user_id, ts, event_id, state
      FROM ordered
      WHERE prev IS NULL OR state IS DISTINCT FROM prev
    )
    SELECT user_id,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS INTEGER)
             AS version,
           state,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL) AS is_current
    FROM changed
    """,
)
def r59_scd2_history(spark, sf_dir):
    """SCD Type-2 history build from a CDC stream: each user's
    'purchase' events version a tracked state (the rounded value);
    consecutive no-change rows collapse (the real SCD2 subtlety —
    a CDC feed re-emits unchanged rows and they must NOT open new
    versions), then each surviving change opens a validity interval
    [valid_from, valid_to) closed by the next change, with the open
    interval flagged ``is_current``. The SCD1 twin is r54 (latest
    state only); this preserves full history for as-of joins.

    Scale shape: both windows partition by the dimension key — no
    global sort, embarrassingly parallel across keys, one shuffle
    (the second window reuses the first's partitioning). The
    change-collapse filter and its lag ride the SAME select (the
    lead for interval close runs on the filtered frame, as SCD2
    semantics require)."""
    (ev,) = _t(spark, sf_dir, "events")
    src = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.round("value", 2).alias("state")
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = src.select(
        "user_id", "ts", "event_id", "state",
        F.lag("state").over(w).alias("prev"),
    )
    changed = ordered.filter(
        F.col("prev").isNull() | ~F.col("state").eqNullSafe(F.col("prev"))
    ).select("user_id", "ts", "event_id", "state")
    return changed.select(
        "user_id",
        F.row_number().over(w).cast("int").alias("version"),
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


@register(
    "r60_heavy_hitters",
    oracle="""
    SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
    ORDER BY n_events DESC, event_type, user_id LIMIT 20
    """,
)
def r60_heavy_hitters(spark, sf_dir):
    """Frequent-items sketch: top-20 (event_type, user_id) pairs via
    per-partition Misra-Gries summaries + an exact re-count of the
    candidate set (``operators/sketch.py``) — the frequency member of
    the sketch family (r47 HLL distinct, r58 GK quantiles).

    Oracle-checkable because the second pass is EXACT over candidates
    and the MG merge bound guarantees the candidate set covers every
    key with count > N/(capacity+1); at test SFs per-partition
    distinct keys < capacity so the summaries are lossless outright.
    Scale shape: the full-cardinality groupBy shuffle is replaced by
    KB-sized summaries + a broadcast-semi-join-filtered count; ties at
    the k-boundary break on the (count desc, event_type, user_id)
    total order."""
    from ekati_spark.operators import sketch as SK

    (ev,) = _t(spark, sf_dir, "events")
    return SK.misra_gries_heavy_hitters(
        ev, ["event_type", "user_id"], k=20, capacity=1024
    )


@register(
    "r61_key_skew_report",
    oracle="""
    SELECT 'l_suppkey' AS key_col,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(c) AS BIGINT) AS max_rows,
           CAST(SUM(c) * 1000000 // count(*) AS BIGINT) AS mean_rows_ppm,
           CAST(max(c) * count(*) * 1000000 // SUM(c) AS BIGINT) AS skew_ppm
    FROM (SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY 1)
    UNION ALL
    SELECT 'l_partkey',
           CAST(count(*) AS BIGINT),
           CAST(max(c) AS BIGINT),
           CAST(SUM(c) * 1000000 // count(*) AS BIGINT),
           CAST(max(c) * count(*) * 1000000 // SUM(c) AS BIGINT)
    FROM (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1)
    """,
)
def r61_key_skew_report(spark, sf_dir):
    """Join-key skew diagnosis: per candidate shuffle key, the key
    cardinality, the heaviest key's row count, the mean rows/key, and
    the skew factor max/mean — the report that decides whether a join
    needs r48's salting / AQE skew handling BEFORE it runs at 100 TB.
    All integer fixed-point (ppm): mean = total*1e6 div n_keys, skew =
    max*n_keys*1e6 div total — exact and reducer-count invariant. (At
    extreme scale compute the skew numerator in two divisions to keep
    max*n_keys*1e6 under 2^63.)

    Scale shape: one partial-aggregated groupBy per key column; the
    outer aggregate is n_keys rows -> 1. Nothing driver-side."""
    (li,) = _t(spark, sf_dir, "lineitem")

    def report(col):
        per_key = li.groupBy(col).agg(F.count("*").alias("c"))
        return per_key.agg(
            F.lit(col).alias("key_col"),
            F.count("*").alias("n_keys"),
            F.max("c").alias("max_rows"),
            F.expr("sum(c) * 1000000L div count(*)").alias("mean_rows_ppm"),
            F.expr("max(c) * count(*) * 1000000L div sum(c)").alias("skew_ppm"),
        )

    return report("l_suppkey").unionByName(report("l_partkey"))


@register(
    "r62_retention_cohorts",
    oracle="""
    WITH w AS (
      SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
      FROM events
    ),
    c AS (SELECT user_id, min(wk) AS cw FROM w GROUP BY 1),
    a AS (SELECT DISTINCT w.user_id, c.cw, w.wk
          FROM w JOIN c ON w.user_id = c.user_id)
    SELECT cw AS cohort_week,
           CAST(date_diff('day', cw, wk) // 7 AS INTEGER) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM a GROUP BY 1, 2
    """,
)
def r62_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week,
    counted in every subsequent week they were active — the standard
    product-analytics retention triangle (cohort_week × week_offset →
    active users). Distinct from r43's sessionization and r51's funnel:
    this is the cross-period user-level rollup.

    Scale shape: one groupBy(user) for the cohort assignment, one
    distinct on (user, week) — both shuffle on user_id so AQE reuses
    the partitioning — then a partial-aggregated count; all integers,
    reducer-invariant."""
    (ev,) = _t(spark, sf_dir, "events")
    w = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk"))
    c = w.groupBy("user_id").agg(F.min("wk").alias("cw"))
    a = w.join(c, "user_id").select("user_id", "cw", "wk").distinct()
    return a.groupBy(
        F.col("cw").alias("cohort_week"),
        F.expr("datediff(wk, cw) div 7").cast("int").alias("week_offset"),
    ).agg(F.count("*").alias("n_users"))


@register(
    "r63_kmv_distinct_sketch",
    oracle="""
    WITH d AS (
      SELECT DISTINCT o_orderpriority AS grp, o_custkey AS v FROM orders
    ),
    hh AS (
      SELECT DISTINCT grp,
             CAST(('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 13)) AS BIGINT)
               AS hv
      FROM d
    ),
    uni AS (SELECT DISTINCT hv FROM hh),
    r AS (
      SELECT grp, hv,
             row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn,
             count(*) OVER (PARTITION BY grp) AS nd
      FROM hh
    ),
    ru AS (
      SELECT '__all__' AS grp, hv,
             row_number() OVER (ORDER BY hv) AS rn,
             count(*) OVER () AS nd
      FROM uni
    ),
    k AS (
      SELECT grp, nd, hv AS kth_min,
             CASE WHEN nd <= 256 THEN nd
                  ELSE 255 * 4503599627370496 // hv END AS est_kmv
      FROM (SELECT * FROM r UNION ALL SELECT * FROM ru)
      WHERE rn = LEAST(256, nd)
    )
    SELECT grp, CAST(nd AS BIGINT) AS n_exact,
           CAST(kth_min AS BIGINT) AS kth_min,
           CAST(est_kmv AS BIGINT) AS est_kmv
    FROM k
    """,
)
def r63_kmv_distinct_sketch(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k) distinct-count sketch with an
    EXACT oracle — the third sketch family next to r47's HLL and r58's
    GK quantiles, and the one whose estimate is pure integer
    arithmetic: hash every distinct customer key into [0, 2^52) via the
    md5-prefix trick (l03's engine-portable hash), keep the k=256
    smallest per order-priority group, and estimate
    |D| ≈ (k-1) * 2^52 div h_(k) — plus a '__all__' row built from the
    UNION of the hash sets, demonstrating the property that makes KMV
    the 100 TB tool: bottom-k sets merge associatively (bottom-k of a
    union = bottom-k of the merged minima), so per-partition partials
    combine without bias, unlike naive sampling. Both engines compute
    identical md5 prefixes and one integer division, so even the
    *approximate* estimate hash-matches — no tolerance band needed.

    Plan shape: the rank filter compiles to WindowGroupLimit (Spark
    4.x pushes the k-limit below the per-group sort, i.e. partial
    bottom-k map-side before the shuffle); at 100 TB the same sketch
    runs as a two-level agg (per-partition bottom-k, merge). n_exact
    rides the same frame for attestation; a production query reports
    only the sketch columns."""
    (orders,) = _t(spark, sf_dir, "orders")
    K, POW52 = 256, 4503599627370496
    d = orders.select(
        F.col("o_orderpriority").alias("grp"), F.col("o_custkey").alias("v")
    ).distinct()
    hh = d.select(
        "grp",
        F.conv(F.substring(F.md5(F.col("v").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("hv"),
    ).distinct()
    uni = hh.select("hv").distinct().select(F.lit("__all__").alias("grp"), "hv")
    both = hh.unionByName(uni)
    win = W.partitionBy("grp").orderBy("hv")
    # nd as a separate aggregate (6 rows, broadcast back): folding it into
    # the window select as count(*) OVER would block the WindowGroupLimit
    # rewrite — the optimizer only pushes the per-group k-limit below the
    # sort when every window expression is rank-like and the filter is a
    # constant bound on it
    nd = both.groupBy("grp").agg(F.count("*").cast("long").alias("nd"))
    r = both.select(
        "grp", "hv", F.row_number().over(win).alias("rn")
    ).filter(F.col("rn") <= K)
    k = r.join(F.broadcast(nd), "grp").filter(
        F.col("rn") == F.least(F.lit(K).cast("long"), F.col("nd"))
    ).select(
        "grp",
        F.col("nd").cast("long").alias("n_exact"),
        F.col("hv").cast("long").alias("kth_min"),
        F.when(F.col("nd") <= K, F.col("nd"))
        .otherwise(F.expr(f"{K - 1} * {POW52}L div hv"))
        .cast("long")
        .alias("est_kmv"),
    )
    return k


@register(
    "r64_event_pattern_match",
    oracle="""
    WITH seq AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
               AS s,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract(s, 'v[^e]*c[^e]*p')) AS BIGINT)
             AS match_span,
           CAST(len(s) - len(replace(s, 'p', '')) AS BIGINT) AS n_purchases
    FROM seq
    WHERE regexp_matches(s, 'v[^e]*c[^e]*p')
    """,
)
def r64_event_pattern_match(spark, sf_dir):
    """Event-sequence pattern matching — the MATCH_RECOGNIZE substitute:
    collapse each user's event stream to an ordered initial-letter
    string (listagg WITHIN GROUP — one shuffle, state ∝ events/user)
    and run the sequence pattern as a REGEX over it: here
    'view, later click, later purchase, with NO error anywhere
    between' = ``v[^e]*c[^e]*p``. This captures ordering constraints
    r51's min-timestamp funnel chaining cannot express (exclusion
    windows, immediate-adjacency, bounded gaps = regex quantifiers).

    Leftmost-match semantics are identical in Spark and DuckDB (both
    RE2/PCRE-style leftmost-first on these constructs), and the span
    length + purchase count are integer string ops, so the whole row
    hash-matches. At 100 TB the per-user string is bounded by events
    per user (the same bound sessionization already carries); users
    shard across reducers by the groupBy key."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "events_r64"
    )
    return spark.sql(
        """
        WITH seq AS (
          SELECT user_id,
                 listagg(substr(event_type, 1, 1), '')
                   WITHIN GROUP (ORDER BY ts, event_id) AS s,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events_r64 GROUP BY user_id
        )
        SELECT user_id, n_events,
               CAST(length(regexp_extract(s, 'v[^e]*c[^e]*p', 0)) AS BIGINT)
                 AS match_span,
               CAST(length(s) - length(replace(s, 'p', '')) AS BIGINT)
                 AS n_purchases
        FROM seq
        WHERE s RLIKE 'v[^e]*c[^e]*p'
        """
    )


@register(
    "r65_event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pair AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n
      FROM pair GROUP BY from_type
    )
    SELECT p.from_type, p.to_type, p.n,
           CAST(p.n * 1000000 // t.row_n AS BIGINT) AS prob_ppm
    FROM pair p JOIN tot t ON p.from_type = t.from_type
    """,
)
def r65_event_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), in exact ppm fixed point
    (n·1e6 div row-total — the g32 doctrine, so probabilities
    hash-match, not just counts). The behavioral-analytics companion
    to r64's pattern matching: r64 asks 'did this sequence happen',
    this asks 'what usually happens next'.

    Scale shape: one window lead over (user, time) — the sessionize
    shuffle — then two aggregations ∝ |event types|²; the 25-row
    transition table is the whole output."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")[0]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    pair = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count("*").cast("long").alias("n"))
    tot = pair.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("row_n")
    )
    return pair.join(tot, "from_type").select(
        "from_type",
        "to_type",
        "n",
        F.expr("n * 1000000 div row_n").cast("long").alias("prob_ppm"),
    )


@register(
    "r66_last_touch_attribution",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, ts,
             epoch_us(ts) AS t
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, event_type, t,
             MAX(CASE WHEN event_type IN ('click', 'view')
                      THEN t END)
               OVER (PARTITION BY user_id ORDER BY t, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch_t
      FROM ev
    ),
    conv AS (
      SELECT m.user_id, m.event_id AS purchase_id, m.t,
             m.last_touch_t
      FROM marked m WHERE m.event_type = 'purchase'
    )
    SELECT c.user_id, c.purchase_id,
           t2.event_id AS touch_id, t2.event_type AS touch_type,
           CAST((c.t - c.last_touch_t) // 1000000 AS BIGINT)
             AS seconds_since_touch
    FROM conv c
    JOIN (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
             row_number() OVER (PARTITION BY user_id, epoch_us(ts)
                                ORDER BY event_id DESC) AS rn
      FROM events WHERE event_type IN ('click', 'view')
    ) t2
      ON t2.user_id = c.user_id AND t2.t = c.last_touch_t AND t2.rn = 1
    WHERE c.last_touch_t IS NOT NULL
      AND c.t - c.last_touch_t <= CAST(604800 AS BIGINT) * 1000000
    """,
)
def r66_last_touch_attribution(spark, sf_dir):
    """Last-touch conversion attribution: each purchase is credited to
    the user's most recent click/view within a 7-day lookback — the
    standard marketing-attribution join, done with ONE running-max
    window over the event stream (no self-join against the touch
    history; the touch row is recovered by an equi-join on the exact
    touch timestamp, ties broken by highest event_id — mirrored in the
    oracle). Microsecond integer arithmetic throughout.

    Scale shape: the running max rides the same (user, time) window
    sessionization uses; the recovery join is equi on (user, t) —
    hash-partitionable, touch-side deduped by the rn=1 filter."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")[0].select(
        "user_id",
        "event_id",
        "event_type",
        (F.unix_micros(F.col("ts"))).alias("t"),
    )
    wv = (
        W.partitionBy("user_id")
        .orderBy("t", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch_t = F.max(
        F.when(F.col("event_type").isin("click", "view"), F.col("t"))
    ).over(wv)
    conv = (
        ev.withColumn("last_touch_t", touch_t)
        .filter(F.col("event_type") == "purchase")
        .filter(F.col("last_touch_t").isNotNull())
        .filter(F.col("t") - F.col("last_touch_t") <= 7 * 86400 * 1000000)
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "t",
            "last_touch_t",
        )
    )
    wt = W.partitionBy("tu_user", "t2").orderBy(F.col("touch_id").desc())
    touches = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .select(
            F.col("user_id").alias("tu_user"),
            F.col("event_id").alias("touch_id"),
            F.col("event_type").alias("touch_type"),
            F.col("t").alias("t2"),
        )
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return conv.join(
        touches,
        (F.col("tu_user") == F.col("user_id"))
        & (F.col("t2") == F.col("last_touch_t")),
    ).select(
        "user_id",
        "purchase_id",
        "touch_id",
        "touch_type",
        F.expr("(t - last_touch_t) div 1000000").cast("long").alias(
            "seconds_since_touch"
        ),
    )


@register(
    "r67_kmv_set_ops",
    oracle="""
    WITH ha AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS hv
      FROM events WHERE event_type = 'click'
    ),
    hb AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS hv
      FROM events WHERE event_type = 'purchase'
    ),
    ka AS (SELECT hv FROM (
             SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM ha)
           WHERE rn <= 256),
    kb AS (SELECT hv FROM (
             SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM hb)
           WHERE rn <= 256),
    merged AS (
      SELECT DISTINCT hv
      FROM (SELECT hv FROM ka UNION ALL SELECT hv FROM kb)
    ),
    mk AS (
      SELECT hv, row_number() OVER (ORDER BY hv) AS rn,
             count(*) OVER () AS nm
      FROM merged
    ),
    kth AS (SELECT nm, hv AS theta FROM mk WHERE rn = LEAST(256, nm)),
    sample AS (
      SELECT mk.hv,
             CASE WHEN mk.hv IN (SELECT hv FROM ka)
                   AND mk.hv IN (SELECT hv FROM kb)
                  THEN 1 ELSE 0 END AS in_both
      FROM mk, kth WHERE mk.rn <= LEAST(256, kth.nm)
    ),
    agg AS (
      SELECT kth.nm, kth.theta,
             (SELECT CAST(SUM(in_both) AS BIGINT) FROM sample) AS c,
             (SELECT CAST(count(*) AS BIGINT) FROM ha) AS n_a,
             (SELECT CAST(count(*) AS BIGINT) FROM hb) AS n_b
      FROM kth
    )
    SELECT n_a AS n_click_exact, n_b AS n_purchase_exact,
           CAST(theta AS BIGINT) AS theta,
           CAST(c AS BIGINT) AS inter_in_sample,
           CAST(CASE WHEN nm <= 256 THEN nm
                     ELSE 255 * 4503599627370496 // theta END AS BIGINT)
             AS est_union,
           CAST(CASE WHEN nm <= 256 THEN c
                     ELSE c * (255 * 4503599627370496 // theta) // 256 END
                AS BIGINT) AS est_inter,
           CAST(1000 * c // LEAST(256, nm) AS BIGINT) AS jaccard_milli
    FROM agg
    """,
)
def r67_kmv_set_ops(spark, sf_dir):
    """KMV/theta-sketch SET OPERATIONS — the companion to r63's
    single-set sketch and the reason bottom-k sketches win at 100 TB:
    two distinct-user sets (clickers vs purchasers) are each summarized
    by their k=256 smallest md5-prefix hashes, and union/intersection/
    Jaccard are estimated from the SKETCHES ALONE — no re-scan, no
    exact-set join. Theta = the k-th smallest of the merged sample;
    every sample hash ≤ theta that appears in BOTH bottom-k sets is an
    intersection witness (correct because theta ≤ each side's own k-th
    min, so sample∩A membership is decidable from A's sketch).
    Estimates are pure integer arithmetic — (k-1)·2^52 div theta,
    c·est_union div k, 1000·c div |sample| — so the approximate
    answers hash-match the oracle exactly (the r63 doctrine).

    Plan shape: two distinct-aggregations (map-side partial), two
    WindowGroupLimit bottom-k passes over ~k-sized survivors, then
    driver-sized (≤2k-row) sample arithmetic. At 100 TB each bottom-k
    runs as a two-level agg (per-partition bottom-k, merge — bottom-k
    sets merge associatively); the sketches themselves are KBs."""
    (ev,) = _t(spark, sf_dir, "events")
    K, POW52 = 256, 4503599627370496

    def kset(etype):
        h = (
            ev.filter(F.col("event_type") == etype)
            .select(
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 13),
                    16,
                    10,
                )
                .cast("long")
                .alias("hv")
            )
            .distinct()
        )
        w = W.orderBy("hv")
        return h, h.select(
            "hv", F.row_number().over(w).alias("rn")
        ).filter(F.col("rn") <= K).select("hv")

    ha, ka = kset("click")
    hb, kb = kset("purchase")
    merged = ka.unionByName(kb).distinct()
    mk = merged.select(
        "hv",
        F.row_number().over(W.orderBy("hv")).alias("rn"),
    )
    nm = merged.agg(F.count("*").cast("long").alias("nm"))
    kth = (
        mk.join(F.broadcast(nm))
        .filter(F.col("rn") == F.least(F.lit(K).cast("long"), F.col("nm")))
        .select("nm", F.col("hv").alias("theta"))
    )
    sample = (
        mk.join(F.broadcast(nm))
        .filter(F.col("rn") <= F.least(F.lit(K).cast("long"), F.col("nm")))
        .join(ka.select(F.col("hv").alias("hv_a")), F.col("hv") == F.col("hv_a"), "left")
        .join(kb.select(F.col("hv").alias("hv_b")), F.col("hv") == F.col("hv_b"), "left")
        .select(
            F.when(
                F.col("hv_a").isNotNull() & F.col("hv_b").isNotNull(), 1
            )
            .otherwise(0)
            .alias("in_both")
        )
    )
    c = sample.agg(F.sum("in_both").cast("long").alias("c"))
    na = ha.agg(F.count("*").cast("long").alias("n_a"))
    nb = hb.agg(F.count("*").cast("long").alias("n_b"))
    est_union = F.when(F.col("nm") <= K, F.col("nm")).otherwise(
        F.expr(f"{K - 1} * {POW52}L div theta")
    )
    return (
        kth.join(F.broadcast(c))
        .join(F.broadcast(na))
        .join(F.broadcast(nb))
        .select(
            F.col("n_a").alias("n_click_exact"),
            F.col("n_b").alias("n_purchase_exact"),
            F.col("theta").cast("long").alias("theta"),
            F.col("c").alias("inter_in_sample"),
            est_union.cast("long").alias("est_union"),
            F.when(F.col("nm") <= K, F.col("c"))
            .otherwise(
                F.expr(f"c * ({K - 1} * {POW52}L div theta) div {K}")
            )
            .cast("long")
            .alias("est_inter"),
            F.expr(f"1000 * c div least(CAST({K} AS BIGINT), nm)")
            .cast("long")
            .alias("jaccard_milli"),
        )
    )


@register(
    "r68_asof_forward_tolerance",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT min(o.o_orderdate) FROM orders o
            WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
              AND o.o_orderdate <= e.ts + INTERVAL 30 DAY)
             AS next_order_date
    FROM events e
    """,
)
def r68_asof_forward_tolerance(spark, sf_dir):
    """FORWARD as-of join with a tolerance bound — r37's mirror and the
    other half of the pandas merge_asof surface: for each event, the
    EARLIEST order at-or-after it, but only within 30 days (beyond the
    window → NULL, the merge_asof(tolerance=...) contract). Same
    union+window pass as r37 on descending time (a running min struct),
    one shuffle for both sides on the key; the tolerance nulls out a
    match past the bound and does not shrink the sorted history."""
    ev, ords = _t(spark, sf_dir, "events", "orders")
    from ekati_spark.operators.asof import asof_join

    return asof_join(
        ev.select("event_id", "user_id", "ts"),
        ords.select("o_custkey", "o_orderdate"),
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        direction="forward",
        tolerance="30 days",
    ).select(
        "event_id",
        "user_id",
        "ts",
        F.col("o_orderdate").alias("next_order_date"),
    )


@register(
    "r69_mv_retract_refresh",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(count(*) AS BIGINT) AS order_cnt,
           {sql_dsum('o_totalprice')} AS total_price
    FROM orders WHERE o_orderkey % 7 <> 3
    GROUP BY 1, 2
    """,
)
def r69_mv_retract_refresh(spark, sf_dir):
    """Incremental MV maintenance under DELETES — r56's other half:
    the pre-built view covers the whole base table, then a retraction
    batch (the ``% 7 == 3`` keys, a CDC delete feed) is applied as
    NEGATIVE contributions — counts subtract, decimal sums subtract —
    and groups whose count hits zero are dropped from the view (the
    invariant that distinguishes retraction from insert-merge: a fully
    deleted group must VANISH, not linger as a zero row). The oracle
    recomputes from the surviving rows, so the hash match proves
    view - delta ≡ recompute. SUM/COUNT are self-maintainable under
    deletes with no per-group history; MIN/MAX are NOT (a deleted
    extremum forces a per-group rescan) — that asymmetry is why this
    view carries only sum/count. Refresh shuffles delta + view-sized
    data only, never the base table. Decimal accumulation makes
    base − delta bit-identical to the one-shot aggregate."""
    (orders,) = _t(spark, sf_dir, "orders")
    keys = ["o_orderpriority", "order_month"]

    def agg(df):
        return (
            df.withColumn(
                "order_month", F.date_trunc("month", "o_orderdate").cast("date")
            )
            .groupBy(*keys)
            .agg(
                F.count("*").alias("order_cnt"),
                F.sum(F.col("o_totalprice").cast("decimal(25,4)")).alias(
                    "_sum_price"
                ),
            )
        )

    view = agg(orders)  # built before the deletes arrived
    retract = agg(orders.filter(F.col("o_orderkey") % 7 == 3))
    merged = view.alias("b").join(
        retract.alias("d"),
        on=[F.col(f"b.{k}").eqNullSafe(F.col(f"d.{k}")) for k in keys],
        how="left_outer",  # retractions only touch existing groups
    )
    zero = F.lit(0).cast("decimal(25,4)")
    return (
        merged.select(
            F.col("b.o_orderpriority").alias("o_orderpriority"),
            F.col("b.order_month").alias("order_month"),
            (
                F.col("b.order_cnt") - F.coalesce(F.col("d.order_cnt"), F.lit(0))
            ).alias("order_cnt"),
            (
                F.col("b._sum_price") - F.coalesce(F.col("d._sum_price"), zero)
            )
            .cast("double")
            .alias("total_price"),
        )
        .filter(F.col("order_cnt") > 0)
    )


@register(
    "r70_countmin_sketch",
    oracle="""
    WITH ev AS (SELECT user_id FROM events),
    dd AS (SELECT unnest(range(4)) AS d),
    hh AS (
      SELECT ev.user_id, dd.d,
             CAST(('0x' || substr(md5(CAST(dd.d AS VARCHAR) || ':' ||
                                      CAST(ev.user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) % 256 AS bucket
      FROM ev CROSS JOIN dd
    ),
    counters AS (
      SELECT d, bucket, CAST(count(*) AS BIGINT) AS c
      FROM hh GROUP BY 1, 2
    ),
    topu AS (
      SELECT user_id, n FROM (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n,
               row_number() OVER (ORDER BY count(*) DESC, user_id) AS rn
        FROM ev GROUP BY user_id
      ) WHERE rn <= 20
    ),
    probes AS (
      SELECT t.user_id, t.n, dd.d,
             CAST(('0x' || substr(md5(CAST(dd.d AS VARCHAR) || ':' ||
                                      CAST(t.user_id AS VARCHAR)), 1, 13))
                  AS BIGINT) % 256 AS bucket
      FROM topu t CROSS JOIN dd
    )
    SELECT p.user_id, p.n AS n_exact,
           CAST(MIN(c.c) AS BIGINT) AS est_cm
    FROM probes p JOIN counters c ON c.d = p.d AND c.bucket = p.bucket
    GROUP BY 1, 2
    """,
)
def r70_countmin_sketch(spark, sf_dir):
    """Count-Min sketch — the frequency-estimation classic that
    completes the sketch family (HLL r47 / GK r58 / Misra-Gries r60 /
    KMV r63/r67): a depth-4 × width-256 counter grid over event
    user_ids (hashes are md5-prefix mod width — the engine-portable
    hash doctrine), point estimates for the top-20 true-heaviest users
    as min over the four rows. Counters are plain grouped counts, so
    the WHOLE sketch build and every estimate replay exactly in SQL —
    including the one-sided error (est >= exact always; the gap IS the
    collision noise the depth×width budget buys down). At 100 TB the
    grid is 1024 BIGINTs built in one partial-agg pass and merges
    across partitions/streams by cell-wise addition — the CM property
    that matters in a distributed engine.

    Plan shape: the d∈0..3 fan-out is a 4-element posexplode (narrow,
    map-side), counters one groupBy; probes join the 80-row top-k
    against the 1024-row counter table (broadcast)."""
    (ev,) = _t(spark, sf_dir, "events")
    D, WID = 4, 256

    def bucket(dcol, ucol):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            dcol.cast("string"),
                            F.lit(":"),
                            ucol.cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % WID
        )

    dd = F.explode(F.sequence(F.lit(0), F.lit(D - 1))).alias("d")
    hh = ev.select("user_id").select(dd, "user_id").select(
        "d", bucket(F.col("d"), F.col("user_id")).alias("bucket")
    )
    counters = hh.groupBy("d", "bucket").agg(F.count("*").alias("c"))
    topu = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            "n",
            F.row_number()
            .over(W.orderBy(F.col("n").desc(), "user_id"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= 20)
    )
    probes = topu.select(dd, "user_id", "n").select(
        "user_id",
        "n",
        "d",
        bucket(F.col("d"), F.col("user_id")).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(counters), ["d", "bucket"])
        .groupBy("user_id", F.col("n").alias("n_exact"))
        .agg(F.min("c").cast("long").alias("est_cm"))
        .select("user_id", F.col("n_exact").cast("long"), "est_cm")
    )


@register(
    "r71_dup_drift_daily",
    oracle="""
    WITH g AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             user_id, event_type, value,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3, 4
    )
    SELECT day,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(SUM(c - 1) AS BIGINT) AS n_dup_events,
           CAST(1000000 * SUM(c - 1) // SUM(c) AS BIGINT) AS dup_ppm
    FROM g GROUP BY day
    """,
)
def r71_dup_drift_daily(spark, sf_dir):
    """Duplicate-share DRIFT over time — the data-quality monitor a
    pipeline runs on every ingest day: per day, how many events are
    exact repeats of an already-seen (user, type, value) tuple that
    day, as an integer ppm rate. A day whose dup_ppm jumps means an
    upstream producer started double-firing — caught here before the
    duplicates poison downstream counts. Two-level aggregate (tuple
    counts, then per-day sums): both shuffles key on (day, tuple) /
    day, partial-aggregated map-side; at 100 TB the first groupBy is
    the dedup pass a deployment runs anyway, so the monitor rides it
    for free (the l69/l76 observability doctrine on the events
    stream)."""
    (ev,) = _t(spark, sf_dir, "events")
    g = (
        ev.select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "user_id",
            "event_type",
            "value",
        )
        .groupBy("day", "user_id", "event_type", "value")
        .agg(F.count("*").alias("c"))
    )
    return g.groupBy("day").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.sum(F.col("c") - 1).cast("long").alias("n_dup_events"),
        F.expr("1000000 * SUM(c - 1) div SUM(c)")
        .cast("long")
        .alias("dup_ppm"),
    )


@register(
    "r72_topk_with_ties",
    oracle="""
    SELECT o_orderpriority,
           CAST(floor(o_totalprice + 0.5) AS BIGINT) AS price_usd,
           o_orderkey, CAST(rk AS INTEGER) AS rk
    FROM (
      SELECT o_orderpriority, o_totalprice, o_orderkey,
             rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY CAST(floor(o_totalprice + 0.5) AS BIGINT)
                            DESC) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def r72_topk_with_ties(spark, sf_dir):
    """Top-k WITH TIES (`FETCH FIRST 3 ROWS WITH TIES` semantics) —
    the rank()-based top-k that r17's row_number cannot express: every
    order tying the 3rd-highest integer-dollar price per priority IS
    in the result, so the output is a pure function of the DATA, with
    no hidden tie-break dropping rows (the property audits and
    leaderboards need; row_number top-k silently truncates ties).
    Prices quantize to integer dollars first (floor(x+0.5), the l67
    one-op rule) so the rank keys are bit-identical across engines.
    Plan: rank-only window + constant bound still qualifies for
    WindowGroupLimit (map-side partial top-k before the per-group
    sort's shuffle), same as row_number — ties cost only the extra
    qualifying rows."""
    (orders,) = _t(spark, sf_dir, "orders")
    usd = F.floor(F.col("o_totalprice") + 0.5).cast("long")
    w = W.partitionBy("o_orderpriority").orderBy(F.col("price_usd").desc())
    return (
        orders.select(
            "o_orderpriority",
            usd.alias("price_usd"),
            "o_orderkey",
        )
        .withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "o_orderpriority",
            "price_usd",
            "o_orderkey",
            F.col("rk").cast("int").alias("rk"),
        )
    )


@register(
    "r73_rollup_router",
    oracle="""
    WITH b AS (
      SELECT date_trunc('day', min(ts)) + INTERVAL 30 HOUR AS t0,
             date_trunc('day', max(ts)) - INTERVAL 1 DAY
               + INTERVAL 18 HOUR AS t1
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(25,4))) AS DOUBLE) AS total_value
    FROM events, b
    WHERE ts >= b.t0 AND ts < b.t1
    GROUP BY event_type
    """,
)
def r73_rollup_router(spark, sf_dir):
    """HYPERTABLE continuous-aggregate rollup + query router — the
    TimescaleDB/Druid pattern for time-range dashboards over raw event
    volumes: materialize an HOURLY rollup (count + exact decimal value
    sum per (hour, event_type)), cascade a DAILY rollup FROM the hourly
    one (never re-reading raw events), then answer a range query whose
    bounds are hour- but not day-aligned by ROUTING: full interior days
    from the daily level, the partial lead/trail days from the hourly
    level, summed. The oracle computes the same range DIRECTLY from raw
    events, so a hash match proves the decomposition is exact — rollup
    cascade + router lose nothing (decimal partials stay decimal
    through every level; cast to double only at the end). At 100 TB
    this is the only viable dashboard plan: the router scans rows ∝
    hours+days in range instead of raw events, rollups maintain
    incrementally (r56's contract), and the range filters bind
    driver-side as literals so a date-partitioned rollup store prunes
    to the touched partitions."""
    import datetime as _dt

    evs = load_table(spark, sf_dir, "events")
    mm = evs.agg(F.min("ts").alias("a"), F.max("ts").alias("b")).first()
    d0 = mm["a"].replace(hour=0, minute=0, second=0, microsecond=0)
    dN = mm["b"].replace(hour=0, minute=0, second=0, microsecond=0)
    t0 = d0 + _dt.timedelta(hours=30)
    lo_end = d0 + _dt.timedelta(days=2)
    hi_start = dN - _dt.timedelta(days=1)
    t1 = hi_start + _dt.timedelta(hours=18)

    hourly = (
        evs.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(25,4)")).alias("sv"),
        )
        .transform(cut_lineage)  # the materialized MV: built once,
        # read by the daily cascade AND both partial-day probes
    )
    daily = hourly.groupBy(
        F.date_trunc("day", "h").alias("d"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))

    lead_part = hourly.filter(
        (F.col("h") >= F.lit(t0)) & (F.col("h") < F.lit(lo_end))
    )
    trail_part = hourly.filter(
        (F.col("h") >= F.lit(hi_start)) & (F.col("h") < F.lit(t1))
    )
    interior = daily.filter(
        (F.col("d") >= F.lit(lo_end)) & (F.col("d") < F.lit(hi_start))
    )
    parts = (
        lead_part.select("event_type", "n", "sv")
        .unionByName(trail_part.select("event_type", "n", "sv"))
        .unionByName(interior.select("event_type", "n", "sv"))
    )
    return parts.groupBy("event_type").agg(
        F.sum("n").alias("n_events"),
        F.sum("sv").cast("double").alias("total_value"),
    )


@register(
    "r74_ordered_set_aggs",
    oracle="""
    WITH pc AS (
      SELECT l_returnflag, l_quantity,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    md AS (
      SELECT l_returnflag, l_quantity AS mode_qty
      FROM (
        SELECT l_returnflag, l_quantity,
               row_number() OVER (PARTITION BY l_returnflag
                                  ORDER BY c DESC, l_quantity) AS rn
        FROM pc
      ) WHERE rn = 1
    ),
    rk AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    pd AS (
      SELECT l_returnflag, min(l_extendedprice) AS p90_disc
      FROM rk WHERE rn = (9 * n + 9) // 10
      GROUP BY 1
    )
    SELECT md.l_returnflag, md.mode_qty, pd.p90_disc
    FROM md JOIN pd ON md.l_returnflag = pd.l_returnflag
    """,
)
def r74_ordered_set_aggs(spark, sf_dir):
    """Ordered-set aggregates with DETERMINISTIC tie-breaks — the two
    the engine previously lacked: ``mode()`` (both engines' built-ins
    return an arbitrary element among tied modes, so the portable form
    is count-then-rank with a (count desc, value) tie-break) and
    ``percentile_disc(0.9)`` (the value at rank ceil(9n/10) — computed
    as the INTEGER (9n+9) div 10 on both sides, because DuckDB's bare
    0.9 literal is exact DECIMAL while a double 0.9·n overshoots on n
    divisible by 10 — under a
    total order — row_number over (value, l_orderkey, l_linenumber)
    makes the rank unique even with duplicate prices). Both engines run
    the SAME rank construction, so values hash-match with no tolerance
    and no reliance on either engine's tie policy. Scale shape: mode is
    a two-level count/rank (map-side combine on (flag, qty));
    percentile_disc is one window per group — the WindowGroupLimit
    caveat doesn't apply (rank equality, not a top-k bound), and at
    100 TB the GK sketch (r58) is the bounded-memory alternative when
    exactness can be traded."""
    li = load_table(spark, sf_dir, "lineitem")
    pc = li.groupBy("l_returnflag", "l_quantity").agg(
        F.count("*").alias("c")
    )
    md = (
        pc.select(
            "l_returnflag",
            "l_quantity",
            F.row_number()
            .over(
                W.partitionBy("l_returnflag").orderBy(
                    F.desc("c"), "l_quantity"
                )
            )
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_quantity").alias("mode_qty"))
    )
    rk = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.row_number()
        .over(
            W.partitionBy("l_returnflag").orderBy(
                "l_extendedprice", "l_orderkey", "l_linenumber"
            )
        )
        .alias("rn"),
        F.count("*")
        .over(W.partitionBy("l_returnflag"))
        .alias("n"),
    )
    pd_ = (
        rk.filter(
            F.col("rn") == F.expr("(9 * n + 9) div 10")
        )
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("p90_disc"))
    )
    return md.join(pd_, "l_returnflag")


@register(
    "r75_percentile_cont",
    oracle="""
    WITH rk AS (
      SELECT l_returnflag, l_extendedprice AS v,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice, l_orderkey,
                                         l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    ),
    b AS (
      SELECT l_returnflag, rn, n, v,
             ((n - 1) * 1) // 4 + 1 AS k25,
             ((n - 1) * 1) // 2 + 1 AS k50,
             ((n - 1) * 3) // 4 + 1 AS k75,
             CAST(((n - 1) * 1) % 4 AS DOUBLE) / 4 AS f25,
             CAST(((n - 1) * 1) % 2 AS DOUBLE) / 2 AS f50,
             CAST(((n - 1) * 3) % 4 AS DOUBLE) / 4 AS f75
      FROM rk
    ),
    pick AS (
      SELECT l_returnflag,
             min(CASE WHEN rn = k25 THEN v END) AS lo25,
             min(CASE WHEN rn = k25 + 1 THEN v END) AS hi25,
             min(f25) AS f25,
             min(CASE WHEN rn = k50 THEN v END) AS lo50,
             min(CASE WHEN rn = k50 + 1 THEN v END) AS hi50,
             min(f50) AS f50,
             min(CASE WHEN rn = k75 THEN v END) AS lo75,
             min(CASE WHEN rn = k75 + 1 THEN v END) AS hi75,
             min(f75) AS f75
      FROM b GROUP BY 1
    )
    SELECT l_returnflag,
           lo25 + (coalesce(hi25, lo25) - lo25) * f25 AS p25,
           lo50 + (coalesce(hi50, lo50) - lo50) * f50 AS p50,
           lo75 + (coalesce(hi75, lo75) - lo75) * f75 AS p75
    FROM pick
    """,
)
def r75_percentile_cont(spark, sf_dir):
    """``percentile_cont`` (linear interpolation) for p = .25/.5/.75 —
    completing r74's ordered-set family. Neither engine's built-in is
    used: both run the SAME explicit construction (row_number under a
    total order, integer-exact bracket rank k = (n-1)·num div den + 1,
    exact fraction rem/den, one lo + (hi-lo)·frac IEEE sequence), so
    interpolated values hash-match with no tolerance and no reliance
    on either engine's percentile implementation. The fraction stays
    exact because num/den are 1/4, 1/2, 3/4: rem/den is a dyadic
    rational, representable exactly in double. Scale shape: one window
    per group + one conditional aggregate — the same two shuffles as
    r74; r58's GK sketch remains the bounded-memory route when
    exactness can be traded."""
    li = load_table(spark, sf_dir, "lineitem")
    rk = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.row_number()
        .over(
            W.partitionBy("l_returnflag").orderBy(
                "l_extendedprice", "l_orderkey", "l_linenumber"
            )
        )
        .alias("rn"),
        F.count("*")
        .over(W.partitionBy("l_returnflag"))
        .alias("n"),
    )
    cols = ["l_returnflag"]
    b = rk
    picks = []
    for tag, num, den in (("25", 1, 4), ("50", 1, 2), ("75", 3, 4)):
        k = ((F.col("n") - 1) * num).cast("bigint") - (
            ((F.col("n") - 1) * num).cast("bigint") % den
        )
        k = (k / den).cast("bigint") + 1  # exact: k is divisible by den
        frac = (((F.col("n") - 1) * num) % den).cast("double") / den
        b = (
            b.withColumn(f"k{tag}", k)
            .withColumn(f"f{tag}", frac)
        )
        picks += [
            F.min(
                F.when(F.col("rn") == F.col(f"k{tag}"), F.col("v"))
            ).alias(f"lo{tag}"),
            F.min(
                F.when(F.col("rn") == F.col(f"k{tag}") + 1, F.col("v"))
            ).alias(f"hi{tag}"),
            F.min(f"f{tag}").alias(f"f{tag}"),
        ]
    pick = b.groupBy("l_returnflag").agg(*picks)
    out = pick.select(
        "l_returnflag",
        *[
            (
                F.col(f"lo{t}")
                + (
                    F.coalesce(F.col(f"hi{t}"), F.col(f"lo{t}"))
                    - F.col(f"lo{t}")
                )
                * F.col(f"f{t}")
            ).alias(f"p{t}")
            for t in ("25", "50", "75")
        ],
    )
    return out


@register(
    "r76_scd2_lookup_join",
    oracle="""
    WITH src AS (
      SELECT user_id, ts, event_id, round(value, 2) AS state
      FROM events WHERE event_type = 'purchase'
    ),
    ordered AS (
      SELECT user_id, ts, event_id, state,
             lag(state) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS prev
      FROM src
    ),
    changed AS (
      SELECT user_id, ts, event_id, state
      FROM ordered
      WHERE prev IS NULL OR state IS DISTINCT FROM prev
    ),
    dim AS (
      SELECT user_id,
             CAST(row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS INTEGER)
               AS version,
             state,
             ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM changed
    ),
    facts AS (
      SELECT event_id, user_id, ts
      FROM events WHERE event_type = 'view'
    )
    SELECT f.event_id, f.user_id, f.ts,
           d.version, d.state AS state_asof
    FROM facts f JOIN dim d
      ON f.user_id = d.user_id
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def r76_scd2_lookup_join(spark, sf_dir):
    """SCD2 LOOKUP join — the other half of r59 (which only BUILDS the
    versioned dimension): every 'view' fact joins to the dimension
    version valid AT its event time (user equi-key + half-open
    validity-interval predicate), the canonical warehouse pattern for
    effective-dated attributes. Facts preceding a user's first tracked
    version drop out (inner join — the version simply did not exist);
    [from, to) half-open semantics mean boundary facts land in the
    NEWER version and zero-length intervals (two state changes at one
    timestamp) match nothing — both replayed by the oracle verbatim.

    Scale shape: the join is an equi-join on user_id with the interval
    test as a residual — SortMergeJoin/shuffle-hash partitioned by the
    dimension key, per-key fan-out bounded by that user's version
    count (never a cross join, never an interval broadcast). The
    dimension build is r59's two windows, partitioned by the same key
    the join shuffles on — one partitioning end to end."""
    (ev,) = _t(spark, sf_dir, "events")
    dim = r59_scd2_history(spark, sf_dir).select(
        F.col("user_id").alias("d_user"), "version", "state",
        "valid_from", "valid_to",
    )
    facts = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    return facts.join(
        dim,
        (facts.user_id == dim.d_user)
        & (facts.ts >= dim.valid_from)
        & (dim.valid_to.isNull() | (facts.ts < dim.valid_to)),
    ).select(
        "event_id", "user_id", "ts", "version",
        F.col("state").alias("state_asof"),
    )


@register(
    "r77_linear_attribution",
    oracle="""
    WITH conv AS (
      SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS t
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, event_id AS touch_id, event_type AS touch_type,
             epoch_us(ts) AS t2
      FROM events WHERE event_type IN ('click', 'view')
    ),
    joined AS (
      SELECT c.user_id, c.purchase_id, t.touch_id, t.touch_type, t.t2
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.t2 < c.t
       AND t.t2 >= c.t - CAST(604800 AS BIGINT) * 1000000
    ),
    ranked AS (
      SELECT *,
             CAST(count(*) OVER (PARTITION BY purchase_id) AS BIGINT) AS n,
             row_number() OVER (PARTITION BY purchase_id
                                ORDER BY t2 DESC, touch_id DESC) AS rnk
      FROM joined
    )
    SELECT user_id, purchase_id, touch_id, touch_type,
           CAST(1000 // n + CASE WHEN rnk <= 1000 % n THEN 1 ELSE 0 END
                AS BIGINT) AS credit_milli
    FROM ranked
    """,
)
def r77_linear_attribution(spark, sf_dir):
    """LINEAR multi-touch attribution — r66's last-touch twin at the
    other end of the attribution spectrum: every click/view in the
    purchase's 7-day lookback shares the conversion credit EQUALLY,
    in exact integer milli-credits with largest-remainder correction
    (base = 1000 div n; the 1000 mod n most recent touches get +1) so
    each purchase's credits sum to exactly 1000 — the invariant a
    downstream budget join relies on, unverifiable with floats.

    Scale shape: the touch×purchase join is user-keyed (SMJ on the
    user id with the lookback as a residual range predicate);
    per-purchase fan-out is bounded by the user's touch count in 7
    days. Both windows partition by purchase_id — one shuffle,
    reused. Oracle replays join, ranking, and remainder rule
    verbatim."""
    (ev,) = _t(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.unix_micros("ts").alias("t"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.unix_micros("ts").alias("t2"),
    )
    joined = conv.join(
        touch,
        (conv.user_id == touch.t_user)
        & (touch.t2 < conv.t)
        & (touch.t2 >= conv.t - F.lit(604_800_000_000)),
    ).select("user_id", "purchase_id", "touch_id", "touch_type", "t2")
    wp = W.partitionBy("purchase_id")
    wr = wp.orderBy(F.desc("t2"), F.desc("touch_id"))
    ranked = joined.select(
        "user_id", "purchase_id", "touch_id", "touch_type",
        F.count("*").over(wp).cast("long").alias("n"),
        F.row_number().over(wr).alias("rnk"),
    )
    return ranked.select(
        "user_id", "purchase_id", "touch_id", "touch_type",
        F.expr(
            "1000L div n + CASE WHEN rnk <= 1000 % n THEN 1 ELSE 0 END"
        ).cast("long").alias("credit_milli"),
    )


@register(
    "r78_pivot_revenue_matrix",
    oracle=f"""
    SELECT o.o_orderpriority AS priority,
           {sql_dsum("CASE WHEN l.l_returnflag = 'A' THEN l.l_extendedprice * (1 - l.l_discount) END", 6)} AS rev_a,
           {sql_dsum("CASE WHEN l.l_returnflag = 'N' THEN l.l_extendedprice * (1 - l.l_discount) END", 6)} AS rev_n,
           {sql_dsum("CASE WHEN l.l_returnflag = 'R' THEN l.l_extendedprice * (1 - l.l_discount) END", 6)} AS rev_r,
           CAST(count(*) FILTER (l.l_returnflag = 'A') AS BIGINT) AS n_a,
           CAST(count(*) FILTER (l.l_returnflag = 'N') AS BIGINT) AS n_n,
           CAST(count(*) FILTER (l.l_returnflag = 'R') AS BIGINT) AS n_r
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def r78_pivot_revenue_matrix(spark, sf_dir):
    """PIVOT: the cross-tab/matrix reshape of the relational surface —
    discounted revenue and row counts by order priority (rows) ×
    return flag (columns), via Spark's native ``groupBy().pivot()``
    with the pivot values PINNED (["A","N","R"] — an unpinned pivot
    adds a distinct-scan job and makes the output schema data-
    dependent, which no 100 TB pipeline wants). Revenue cells
    accumulate in decimal (the dsum contract) so the doubles are
    merge-order-free; empty REVENUE cells are NULL on both sides,
    while empty COUNT cells need a coalesce: Spark's pivot yields
    NULL for a (priority, flag) combination with zero rows but the
    oracle's count(*) FILTER yields 0 (dormant on TPC-H, divergent
    on any corpus missing a flag for some priority). The oracle
    is the canonical CASE-WHEN expansion — the relational-algebra
    identity PIVOT compiles to. The inverse reshape is covered in
    pytest: unpivot(pivot(X)) round-trips (Spark ``unpivot``/melt).

    Scale shape: ONE hash aggregate on the groupBy key with map-side
    partials (the pivot columns are just 6 aggregate expressions —
    no extra shuffle, no per-value scan), after an FK equi-join AQE
    sizes. Output |priorities| rows at any corpus size."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.col("l_returnflag").alias("rf"),
        rev.alias("rev"),
    )
    wide = (
        j.groupBy("priority")
        .pivot("rf", ["A", "N", "R"])
        .agg(
            dsum("rev", 6).alias("rev"),
            # count(lit(1)): star-count is invalid inside a Pivot agg
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return wide.select(
        "priority",
        F.col("A_rev").alias("rev_a"),
        F.col("N_rev").alias("rev_n"),
        F.col("R_rev").alias("rev_r"),
        F.coalesce(F.col("A_n"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.col("N_n"), F.lit(0)).cast("long").alias("n_n"),
        F.coalesce(F.col("R_n"), F.lit(0)).cast("long").alias("n_r"),
    )
