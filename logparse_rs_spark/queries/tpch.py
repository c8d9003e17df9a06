"""General OLAP queries over the TPC-H-ish tables, with their DuckDB
oracles."""

from __future__ import annotations

from pyspark.sql import functions as F

from .common import OracleTables


def tpch_q1(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
             F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
             F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
             F.round(F.avg("l_discount"), 4).alias("avg_disc"),
             F.count("*").alias("count_order"))
    )


def tpch_q3ish(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        # customer scales linearly with SF (150k rows x SF) — no forced
        # broadcast hint; AQE promotes the build side while it fits
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.countDistinct("o_orderkey").alias("n_orders"))
        .orderBy(F.desc("revenue")).limit(10)
    )


def lineitem_rollup(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty")))


def tpch_q5ish(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    # join order: the O(SF) tables (lineitem, orders, customer,
    # supplier) shuffle-join on their keys — supplier also scales with
    # SF (10k rows x SF), so it gets NO forced broadcast hint (AQE
    # promotes it at runtime while it fits, and stops when it doesn't);
    # only nation/region, CONSTANT size at any SF, are hinted
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp,
              (li.l_suppkey == supp.s_suppkey)
              & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .filter((F.col("r_name") == "ASIA")
                & (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def tpch_q18ish(spark, sf_dir):
    # large-order customers: LEFT SEMI join against a HAVING-filtered
    # aggregate (the classic q18 shape). The semi join ships only the
    # qualifying orderkey set; the big fact scan never widens.
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("tq"))
           .filter(F.col("tq") > 150).select("l_orderkey"))
    return (li.join(big, on="l_orderkey", how="left_semi")
            .join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_custkey", "o_orderkey", "o_orderdate")
            .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
            .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
            .limit(20))


def oracle_sql(t: OracleTables) -> dict[str, str]:
    d = {
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3ish": """
            SELECT c_nationkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(DISTINCT o_orderkey) AS n_orders
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_nationkey
            ORDER BY revenue DESC LIMIT 10
        """,
        "lineitem_rollup": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "tpch_q5ish": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name ORDER BY revenue DESC, n_name ASC
        """,
    }
    d["tpch_q18ish"] = """
        SELECT o_custkey, o_orderkey, o_orderdate,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        GROUP BY o_custkey, o_orderkey, o_orderdate
        ORDER BY total_qty DESC, o_orderkey ASC LIMIT 20
    """
    return d
