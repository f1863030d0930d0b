"""Core relational queries: the join-chain/broadcast-lookup shape, the
scalar function pack, and TPC-H-style headline queries (q1/q3/q5/q10).
Single-operator demos from round 1 live in packs.py now (merged so every
operator keeps a driver CORRECTNESS pin inside the 50-query window).

Each query exists twice: as an idiomatic PySpark DataFrame plan (Catalyst
optimizes; filters/projections reach the parquet scan) and as ANSI SQL for
the DuckDB oracle. Reference-parity notes cite /root/reference files.

Scale notes (100 TB design):
- region/nation are constant-size dims -> always broadcast (J6/J7 analogs,
  parser/xml.py:151-177 lookup joins become broadcast hash joins).
- fact-fact joins (lineitem x orders) shuffle on the join key; AQE picks
  partition counts and splits skewed keys at runtime.
- every aggregate is algebraic (sum/count/min/max) -> map-side partial
  aggregation halves shuffle volume automatically.
- top-k uses orderBy+limit (TakeOrderedAndProject) or a per-group window
  with a deterministic tiebreak (quirk Q8, parser/xml.py:276,281: the
  reference relies on frame order; we do not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import load_table
from ._util import DEC, DUCK_REVENUE, dec, fmt_date, money, revenue

# --------------------------------------------------------------------------
# J family: joins
# --------------------------------------------------------------------------


def j_chain_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-way chained left equi-joins, the EAV-assembly shape (J1,
    parser/xml.py:214-232), with the correlated-lookup ''-default read off
    the broadcast nation dim (J6/J7, parser/xml.py:151-177: per-row .loc
    probes become one broadcast hash join). Dim sides broadcast; fact-fact
    legs shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    s = load_table(spark, sf_dir, "supplier")
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left")
        .join(c, o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey, "left")
    )
    return joined.select(
        "l_orderkey",
        "l_linenumber",
        F.col("c_name").alias("cust_name"),
        F.coalesce(F.col("n_name"), F.lit("")).alias("nation_name"),
        F.col("r_name").alias("region_name"),
        F.col("s_name").alias("supp_name"),
    )


# --------------------------------------------------------------------------
# F family: scalar function pack
# --------------------------------------------------------------------------


def f_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function pack (F2/F3, F8-F14): upper, substring, identifier
    strip, concat ids, regexp_extract, year, datenum, conditional chains,
    and convert_datetime normalization.

    PlotID/EventID-style key synthesis (parser/xml.py:158-175): an id is
    built from normalized name parts + a date; the reference's datenum
    helper (parser/functions.py:91-108) is days since 1900-01-01;
    convert_datetime (parser/functions.py:72-88) parses heterogeneous
    timestamp strings and renders millisecond wall clock."""
    from ..functions.datetime_norm import normalize_datetime

    o = load_table(spark, sf_dir, "orders")
    norm_prio = F.translate(F.col("o_orderpriority"), " -_.", "")  # F9
    as_str = F.date_format("o_orderdate", "yyyy-MM-dd'T'HH:mm:ss")
    return o.select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_u"),  # F8
        F.substring(norm_prio, 1, 5).alias("prio5"),  # F9+F10
        F.concat(
            F.substring(norm_prio, 1, 5),
            F.date_format("o_orderdate", "yyyyMMdd"),
        ).alias("event_id"),  # F12 (EventID = plotid+yyyymmdd)
        F.regexp_extract(
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"),
            r"(\d{4}-\d{2}-\d{2})",
            1,
        ).alias("date_part"),  # F11
        F.year("o_orderdate").alias("visit_year"),
        F.datediff(F.col("o_orderdate"), F.lit("1900-01-01")).alias("datenum"),  # F3
        F.when(F.col("o_orderpriority") == "1-URGENT", F.lit("Imm"))  # F14
        .when(F.col("o_orderstatus") == "F", F.concat(F.lit("F-"), F.year("o_orderdate").cast("string")))
        .otherwise(F.lit("Std"))
        .alias("visit_code"),
        normalize_datetime(as_str).alias("norm_ts"),  # F2
    )


# --------------------------------------------------------------------------
# TPC-H-style headline queries (bench workload)
# --------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation, all algebraic
    (map-side partial agg at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    # Stage the charge product through (18,4) x (6,2) so the result type
    # stays inside the 38-digit decimal limit in BOTH engines (exact).
    charge = revenue().cast("decimal(18,4)") * (
        F.lit(1).cast(DEC) + dec("l_tax")
    ).cast("decimal(6,2)")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money(F.sum(dec("l_quantity")), "sum_qty"),
            money(F.sum(dec("l_extendedprice")), "sum_base_price"),
            money(F.sum(revenue()), "sum_disc_price"),
            money(F.sum(charge), "sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            (
                F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))
            ).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact join -> top-10 revenue.
    Deterministic order: (revenue desc, o_orderkey)."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue()).alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("o_orderkey"))
        .limit(10)
        .select(
            "o_orderkey",
            money(F.col("_rev"), "revenue"),
            fmt_date("o_orderdate", "orderdate"),
            "o_orderpriority",
        )
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with co-located nation keys; revenue per
    nation in ASIA for one order-year."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(money(F.sum(revenue()), "revenue"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue()).alias("_rev"))
        .orderBy(F.col("_rev").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"),
                money(F.col("_rev"), "revenue"))
    )


# --------------------------------------------------------------------------
# Registry + oracle SQL
# --------------------------------------------------------------------------

QUERIES = {
    "j_chain_broadcast": j_chain_broadcast,
    "f_scalar_pack": f_scalar_pack,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q10_returned_items": q10_returned_items,
}

ORACLE = {
    "j_chain_broadcast": """
        SELECT l_orderkey, l_linenumber, c_name AS cust_name,
               coalesce(n_name, '') AS nation_name,
               r_name AS region_name, s_name AS supp_name
        FROM lineitem
        LEFT JOIN orders    ON l_orderkey = o_orderkey
        LEFT JOIN customer  ON o_custkey = c_custkey
        LEFT JOIN nation    ON c_nationkey = n_nationkey
        LEFT JOIN region    ON n_regionkey = r_regionkey
        LEFT JOIN supplier  ON l_suppkey = s_suppkey
        WHERE l_quantity >= 48
    """,
    "f_scalar_pack": """
        SELECT o_orderkey,
               upper(o_orderstatus) AS status_u,
               substr(replace(replace(replace(replace(o_orderpriority,
                      ' ', ''), '-', ''), '_', ''), '.', ''), 1, 5) AS prio5,
               substr(replace(replace(replace(replace(o_orderpriority,
                      ' ', ''), '-', ''), '_', ''), '.', ''), 1, 5)
                   || strftime(o_orderdate, '%Y%m%d') AS event_id,
               regexp_extract(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'),
                              '(\\d{4}-\\d{2}-\\d{2})', 1) AS date_part,
               CAST(year(o_orderdate) AS INTEGER) AS visit_year,
               CAST(date_diff('day', DATE '1900-01-01',
                              CAST(o_orderdate AS DATE)) AS INTEGER) AS datenum,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 'Imm'
                    WHEN o_orderstatus = 'F'
                         THEN 'F-' || CAST(year(o_orderdate) AS VARCHAR)
                    ELSE 'Std' END AS visit_code,
               strftime(strptime(strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S'),
                                 '%Y-%m-%dT%H:%M:%S'),
                        '%Y-%m-%d %H:%M:%S.%g') AS norm_ts
        FROM orders
    """,
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_base_price,
               CAST(sum({DUCK_REVENUE}) AS DOUBLE) AS sum_disc_price,
               CAST(sum(CAST({DUCK_REVENUE} AS DECIMAL(18,4))
                        * CAST(1 + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(6,2)))
                   AS DOUBLE) AS sum_charge,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / count(*) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-12-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": f"""
        SELECT o_orderkey,
               CAST(sum({DUCK_REVENUE}) AS DOUBLE) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               o_orderpriority
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-03-15'
          AND l_shipdate  > TIMESTAMP '1997-03-15'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY sum({DUCK_REVENUE}) DESC, o_orderkey
        LIMIT 10
    """,
    "q5_local_supplier_volume": f"""
        SELECT n_name, CAST(sum({DUCK_REVENUE}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "q10_returned_items": f"""
        SELECT c_custkey, c_name, n_name AS nation,
               CAST(sum({DUCK_REVENUE}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY sum({DUCK_REVENUE}) DESC, c_custkey
        LIMIT 20
    """,
}
