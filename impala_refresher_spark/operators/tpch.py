"""TPC-H-derived composite workload queries over the fixture star
schema — multi-join + filter + aggregate + top-k compositions that
exercise the engine the way an Impala analytics user would
(the reference itself ships no queries: impala-refresher.go is a
catalog-refresh CLI; this is §2C engine surface).

Adapted to the fixture's column subset (no commitdate/receiptdate/
shipmode/shippriority): Q4's lateness predicate uses shipdate vs
orderdate; everything else is the classic shape.

Scale notes: every query is the canonical Catalyst star plan — date
filters push into the parquet scan, bounded dims broadcast, fact-fact
joins shuffle on the join key, aggregates combine map-side, top-k is
TakeOrdered (no global sort). These are the plans the optimizer
produces from the declarative form; nothing is hand-scheduled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import load_table


@query(
    "tpch_q3_shipping_priority",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: unshipped high-value BUILDING orders. The mktsegment filter
    prunes customer before the join; top-10 is TakeOrdered with a full
    deterministic tie-break (orderdate, orderkey)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@query(
    "tpch_q4_order_priority",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 (adapted): orders with a late-shipping line item (>60 days
    after order date — the fixture lacks commit/receipt dates), counted
    by priority. The EXISTS is a left-semi join on orderkey with the
    lateness residual — no per-row subquery, no row multiplication
    from multi-lineitem orders."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(l, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "tpch_q6_forecast_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: pure scan-filter-aggregate — every predicate pushes into the
    parquet scan; the plan is one map-side partial sum + a 1-row final
    merge. The 100 TB shape: scan-bandwidth-bound, zero shuffle of data
    rows."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@query(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-20 customers by returned-item revenue in a quarter.
    nation broadcasts (bounded dim); the quarter filter prunes orders
    at the scan; returnflag prunes lineitem at the scan."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1997-04-01")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@query(
    "tpch_q14_promo_revenue",
    """
    SELECT ROUND(
             100.0 * ROUND(SUM(CASE WHEN p_type = 'PROMO'
                                    THEN l_extendedprice * (1 - l_discount)
                                    ELSE 0 END), 2)
                   / ROUND(SUM(l_extendedprice * (1 - l_discount)), 2),
             4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: PROMO revenue share for one month. Both sums are rounded to
    cents BEFORE the division so accumulation-order noise cannot move
    the 4-decimal quotient across engines. part joins the filtered
    month of lineitem — AQE broadcasts it when small enough."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            # try_divide: a month whose every line nets to 0.00 zeroes
            # the denominator — ANSI /0 error vs DuckDB NULL
            F.round(
                F.try_divide(
                    100.0
                    * F.round(
                        F.sum(
                            F.when(F.col("p_type") == "PROMO", net).otherwise(0.0)
                        ),
                        2,
                    ),
                    F.round(F.sum(net), 2),
                ),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: the 6-table star-plus-constraint join — revenue by
    supplier nation where customer and supplier share a nation
    (the c_nationkey = s_nationkey residual makes this the classic
    join-order stress test). Date + region filters push down; nation/
    region broadcast; the fact-side joins shuffle on their keys and
    AQE reorders/locally-optimizes the rest."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"))
    )


@query(
    "tpch_q18_large_volume_customers",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(total_qty AS DOUBLE) AS total_qty
    FROM (
      SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 250
    ) big
    JOIN orders   ON o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 20
    """,
)
def tpch_q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: large-volume customers — a HAVING-filtered aggregate
    over the fact table used as the driving semi-side of the join.
    The aggregate collapses lineitem to (orderkey, qty) BEFORE any
    join (map-side combine), so the join input is orders-of-magnitude
    smaller than the fact table; top-20 is TakeOrdered."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(20)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "total_qty")
    )


@query(
    "tpch_q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: bilateral trade volume between two nations by ship year.
    Both nation joins broadcast (25-row dim, aliased twice); the
    nation-pair disjunction applies AFTER the joins on the already-
    pruned pair of nations, so the fact shuffle carries only rows whose
    supplier OR customer sits in one of the two nations."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        s.join(l, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "tpch_q8_market_share",
    """
    SELECT o_year,
           ROUND(ROUND(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE 0 END), 2)
                 / ROUND(SUM(volume), 2), 4) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
        AND p_type = 'STANDARD'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8: NATION_5 suppliers' share of STANDARD-part revenue sold to
    AMERICA-region customers, by order year. Numerator and denominator
    are rounded to cents BEFORE the division (Q14 convention) so
    accumulation order can't move the 4-decimal share. The p_type
    filter prunes part before its join; region/nation broadcast."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        p.join(l, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy("o_year")
        .agg(
            # try_divide: a year whose volumes all round to 0.00 zeroes
            # the denominator — ANSI /0 error vs DuckDB NULL
            F.round(
                F.try_divide(
                    F.round(
                        F.sum(
                            F.when(
                                F.col("supp_nation") == "NATION_5", vol
                            ).otherwise(0.0)
                        ),
                        2,
                    ),
                    F.round(F.sum(vol), 2),
                ),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "tpch_q9_product_type_profit",
    """
    SELECT nation, o_year,
           ROUND(CAST(SUM(amount_e4) AS DOUBLE) / 100.0) / 100.0
             AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(year(o_orderdate) AS INT) AS o_year,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
               - 60 * CAST(ROUND(p_retailprice * 100) AS BIGINT)
                    * CAST(ROUND(l_quantity) AS BIGINT) AS amount_e4
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%bolt%'
    ) profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 (adapted): profit on '%bolt%' parts by supplier nation and
    order year. The fixture has no partsupp.ps_supplycost, so cost is
    modeled as 60% of p_retailprice per unit — same join tree and
    aggregate shape as the classic Q9 (part filter pruned at scan,
    nation broadcast, fact-fact joins on their keys).

    Integer-exact profit (caught by the r05 driver-precision canon at
    sf0.001): ext*(1-disc) - 0.6*retail*qty over doubles can sum to a
    half-cent tie where the engines' accumulation orders round apart.
    All three factors are 2-dp money / integral quantity, so each
    row's amount is EXACT in 1e-4-dollar units:
    ext_cents*(100-disc_hundredths) - 60*retail_cents*qty. The group
    sum is exact BIGINT; the final round is SCALE-0 in the cents
    domain (ROUND(sum_e4/100)/100, never ROUND(dollars, 2)) — a
    half-cent tie is representable as k.5 cents and both engines
    round it half-away, whereas scale-2 rounding of the same double
    diverges (Spark rounds the shortest-decimal repr, DuckDB the
    exact binary value)."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = F.round(F.col("l_extendedprice") * 100).cast("bigint") * (
        100 - F.round(F.col("l_discount") * 100).cast("bigint")
    ) - 60 * F.round(F.col("p_retailprice") * 100).cast("bigint") * F.round(
        F.col("l_quantity")
    ).cast("bigint")
    return (
        p.join(l, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("o_year", F.year("o_orderdate"))
        .groupBy(F.col("n_name").alias("nation"), F.col("o_year"))
        .agg(
            (
                F.round(F.sum(amount).cast("double") / 100.0) / 100.0
            ).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


@query(
    "tpch_q11_important_stock",
    """
    WITH supplied AS (
      SELECT l_partkey, l_extendedprice * (1 - l_discount) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_2'
    )
    SELECT l_partkey AS ps_partkey, ROUND(SUM(value), 2) AS part_value
    FROM supplied
    GROUP BY l_partkey
    HAVING ROUND(SUM(value), 2) > ROUND((SELECT SUM(value) * 0.002 FROM supplied), 2)
    ORDER BY part_value DESC, ps_partkey
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 (adapted): parts whose NATION_2-supplied trade value exceeds
    a fraction of that nation's total — the classic group-HAVING-above-
    scalar-subquery shape. The fixture has no partsupp, so value comes
    from lineitem net price. The global total is a 1-row aggregate
    cross-joined (broadcast) into the HAVING filter — no second scan
    shuffle; the grouped aggregate combines map-side."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    supplied = (
        l.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "l_partkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value"),
        )
    )
    per_part = supplied.groupBy("l_partkey").agg(F.sum("value").alias("raw_value"))
    total = supplied.agg((F.sum("value") * 0.002).alias("threshold"))
    # Round BOTH sides of the threshold compare (repo float discipline:
    # accumulation-order-dependent sums must be rounded before any
    # cross-engine comparison, or a last-ulp difference flips the
    # strict inequality for a part sitting on the boundary).
    return (
        per_part.join(F.broadcast(total))
        .filter(F.round("raw_value", 2) > F.round("threshold", 2))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.round("raw_value", 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


@query(
    "tpch_q12_priority_shipping",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1998-01-01'
      AND l_shipdate <  TIMESTAMP '1999-01-01'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def tpch_q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 (adapted): late-shipped lines (>60 days after order) in 1998
    split into high/low-priority counts per return flag — the fixture
    has no shipmode, so returnflag plays the grouping role. The year
    filter pushes into the lineitem scan; the lateness predicate is a
    join residual (needs both sides)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1998-01-01") & (F.col("l_shipdate") < "1999-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer
      LEFT JOIN orders ON c_custkey = o_custkey
                      AND o_orderpriority NOT LIKE '%URGENT%'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: distribution of per-customer order counts (non-urgent
    orders only — the fixture lacks o_comment, so the classic comment
    exclusion becomes a priority exclusion INSIDE the left join's ON,
    preserving zero-order customers). Two-level aggregate: the first
    groups by the join key (combines map-side post-join), the second
    is a tiny shuffle of one row per distinct count."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(~F.col("o_orderpriority").like("%URGENT%"))
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "tpch_q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: supplier(s) with the maximum quarterly revenue. Revenue is
    rounded to cents BEFORE the max-equality comparison so both engines
    compare identical values. The max is a 1-row aggregate broadcast
    into the filter (classic scalar-subquery-as-broadcast-join); the
    quarter filter pushes into the scan."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_revenue"
        )
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    return (
        s.join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "tpch_q16_parts_supplier_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 9, 14, 20, 27, 33, 40)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 40
    """,
)
def tpch_q16_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 (adapted): distinct-supplier counts per (brand, type, size)
    — the supplier-part association comes from lineitem (no partsupp in
    the fixture). All three part predicates push into the part scan
    before the join; COUNT(DISTINCT) expands to a two-phase exact
    distinct aggregate; top-40 is TakeOrdered with full tie-break.

    Plan audited (r04, after the r02→r03 0.79→0.96 s wobble flag): a
    single COUNT(DISTINCT) lowers to the two-level aggregate — keys
    (brand,type,size,suppkey) partial-dedup map-side, then the count —
    with NO Expand (Expand appears only for multiple distinct
    aggregates); the join is BroadcastHashJoin(filtered part) and the
    sort is TakeOrderedAndProject. Min-of-4 warm runs: 0.92 s at
    sf0.1, dominated by the full lineitem scan — no lineitem-side
    predicate exists to push. The r03 delta was shared-box noise, not
    a plan change."""
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 9, 14, 20, 27, 33, 40)
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        p.join(l, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(40)
    )


@query(
    "tpch_q17_small_quantity_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
      SELECT l_partkey AS t_partkey,
             ROUND(0.5 * AVG(l_quantity), 4) AS qty_threshold
      FROM lineitem GROUP BY l_partkey
    ) thresholds ON p_partkey = t_partkey
    WHERE p_brand = 'Brand#3' AND l_quantity < qty_threshold
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: revenue impact of small-quantity orders for one brand —
    the correlated per-part AVG becomes an aggregate-then-join (the
    standard decorrelation both engines apply). The threshold is
    rounded to 4 decimals so a last-ulp accumulation difference cannot
    flip a row across the strict inequality. The brand filter prunes
    part before the join; the per-part aggregate collapses lineitem to
    one row per partkey before joining."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    thresholds = l.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.round(0.5 * F.avg("l_quantity"), 4).alias("qty_threshold")
    )
    return (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(thresholds, F.col("p_partkey") == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


@query(
    "tpch_q19_discounted_revenue",
    """
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 5 AND 25
           AND l_quantity BETWEEN 10 AND 25)
       OR (p_brand = 'Brand#4'  AND p_size BETWEEN 15 AND 35
           AND l_quantity BETWEEN 20 AND 35)
    """,
)
def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: OR-of-ANDs predicate spanning both join sides. Catalyst
    factors the single-side conjuncts out of the disjunction: part
    rows must match one of three brands and lineitem rows one of the
    quantity ranges BEFORE the join (derived pushdown), with the full
    disjunction re-checked as the join residual — the textbook test
    that disjunctive pushdown actually happens."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 25)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(15, 35)
            & F.col("l_quantity").between(20, 35)
        )
    )
    return (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@query(
    "tpch_q21_suppliers_who_kept_waiting",
    """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders    ON o_orderkey = l1.l_orderkey
    JOIN nation    ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND n_name = 'NATION_1'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def tpch_q21_suppliers_who_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 (adapted): NATION_1 suppliers who were the SOLE late shipper
    (>90 days after order date — the fixture lacks commit/receipt
    dates) on a finished multi-supplier order.

    The correlated EXISTS / NOT EXISTS pair decorrelates into ONE
    per-order aggregate instead of two extra joins against lineitem:
    per finished order, count distinct suppliers and distinct LATE
    suppliers; a late line l1 satisfies both subqueries iff the order
    has >1 supplier and exactly 1 late supplier (which must then be
    l1's, since l1 itself is late). One fact-fact join + one
    aggregate — strictly less shuffle than the 3-way self-join the
    literal SQL implies, same rows."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = load_table(spark, sf_dir, "lineitem")
    lo = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "is_late",
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        )
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias(
            "n_late_suppliers"
        ),
    )
    late_lines = (
        lo.filter(F.col("is_late"))
        .join(
            per_order.filter(
                (F.col("n_suppliers") > 1) & (F.col("n_late_suppliers") == 1)
            ).select(F.col("l_orderkey").alias("po_orderkey")),
            F.col("l_orderkey") == F.col("po_orderkey"),
        )
    )
    return (
        late_lines.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "tpch_q22_global_sales_opportunity",
    """
    WITH avg_bal AS (
      SELECT ROUND(AVG(c_acctbal), 2) AS threshold
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(SUM(c_acctbal), 2) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > threshold
      AND c_nationkey IN (1, 5, 9, 13, 17, 21, 24)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    ORDER BY cntrycode
    """,
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 (adapted): well-funded customers with no URGENT orders
    (every fixture customer has SOME order, so the classic no-orders
    predicate would be vacuous — the priority-scoped NOT EXISTS keeps
    the anti join discriminating), counted per
    nation (the fixture has no c_phone, so nationkey plays the country
    code). Three classic shapes in one plan: scalar subquery (1-row avg
    broadcast into the filter), anti join against orders (NOT EXISTS),
    and a final small aggregate. The avg threshold is rounded to cents
    on both sides so the strict inequality can't flip on a last-ulp
    difference. The anti join's build side is just o_custkey — column
    pruning reaches the orders scan."""
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 5, 9, 13, 17, 21, 24)
    )
    all_c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    threshold = all_c.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("threshold")
    )
    return (
        c.join(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@query(
    "tpch_q2_min_cost_supplier",
    """
    WITH costs AS (
      SELECT l_partkey AS c_partkey, l_suppkey AS c_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    ),
    best AS (
      SELECT c_partkey AS b_partkey, MIN(unit_cost) AS best_cost
      FROM costs GROUP BY c_partkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
           unit_cost
    FROM part
    JOIN costs ON p_partkey = c_partkey
    JOIN best  ON p_partkey = b_partkey AND unit_cost = best_cost
    JOIN supplier ON s_suppkey = c_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size = 15 AND p_type = 'STANDARD'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 20
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (adapted): cheapest EUROPE supplier per STANDARD size-15 part
    — the fixture has no partsupp.ps_supplycost, so unit cost is the
    supplier's observed min(l_extendedprice / l_quantity). The
    correlated MIN subquery decorrelates to aggregate-then-join-back;
    the min-equality compares a double MIN of identical inputs (exact,
    no accumulation) so no rounding is needed anywhere: both engines
    hold bit-identical doubles, and rounding would only INTRODUCE
    divergence (engines disagree on 4-decimal rounding of a .xxxx5
    binary double). Part filters prune before the join; nation/region
    broadcast.

    Scale note: Catalyst cannot push the ``p_size/p_type`` filter
    through the aggregate-then-join, so without help the ``costs``
    aggregate would fold ALL of lineitem. A broadcast LEFT SEMI join
    of lineitem against the filtered part keys BEFORE the groupBy
    prunes the aggregate's input by the part-filter selectivity
    (~2 orders of magnitude at 100 TB) while leaving the result
    identical — ``costs`` rows for other parts were dropped by the
    final inner join anyway."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    l = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 0)
        .join(
            F.broadcast(p.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
    )
    costs = (
        l.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.col("l_partkey").alias("c_partkey"), F.col("l_suppkey").alias("c_suppkey")
        )
        # try_divide: a zero-quantity line (dirty ingest) must become a
        # NULL unit cost skipped by MIN on both engines — DuckDB's /0
        # yields NULL while ANSI Spark would error the whole query
        .agg(
            F.min(
                F.try_divide(F.col("l_extendedprice"), F.col("l_quantity"))
            ).alias("unit_cost")
        )
    )
    best = costs.groupBy(F.col("c_partkey").alias("b_partkey")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        p.join(costs, F.col("p_partkey") == F.col("c_partkey"))
        .join(
            best,
            (F.col("p_partkey") == F.col("b_partkey"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .join(s, F.col("s_suppkey") == F.col("c_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_type",
            "unit_cost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


@query(
    "tpch_q20_excess_stock_parts",
    """
    WITH flows AS (
      SELECT l_partkey, l_suppkey,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                       AND l_shipdate <  TIMESTAMP '1999-01-01'
                      THEN l_quantity ELSE 0 END) AS qty_1998,
             SUM(CASE WHEN l_shipdate <  TIMESTAMP '1998-01-01'
                       OR  l_shipdate >= TIMESTAMP '1999-01-01'
                      THEN l_quantity ELSE 0 END) AS qty_outside
      FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
      GROUP BY l_partkey, l_suppkey
    )
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND s_suppkey IN (
        SELECT l_suppkey FROM flows
        WHERE ROUND(qty_outside, 2) > ROUND(0.5 * qty_1998, 2) AND qty_1998 > 0
      )
    ORDER BY s_name
    """,
)
def tpch_q20_excess_stock_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 (adapted): suppliers in a nation group holding "excess
    stock" of red parts — the fixture has no partsupp.ps_availqty, so
    stock is read off lineitem flows: a supplier has excess stock of a
    part when the quantity it shipped OUTSIDE 1998 exceeds half of
    what it shipped IN 1998 (the original's availqty > 0.5 * one-year
    demand, with shipped-elsewhere standing in for on-hand quantity).

    Plan shape, inside-out like the original's nested INs: lineitem is
    broadcast-LEFT-SEMI pruned to red part keys BEFORE the per-(part,
    supplier) aggregate (same aggregate-input pruning as tpch_q2 — the
    name filter is ~1/|colors| selective, so at 100 TB the aggregate
    folds a fraction of lineitem); the qualifying supplier set then
    LEFT SEMI joins into the nation-filtered supplier dim. Both sides
    of the threshold compare are accumulation-order-dependent SUMs →
    rounded on both engines per the float discipline.
    """
    red = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    l = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    in_1998 = (F.col("l_shipdate") >= "1998-01-01") & (
        F.col("l_shipdate") < "1999-01-01"
    )
    flows = l.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.when(in_1998, F.col("l_quantity")).otherwise(0.0)).alias("qty_1998"),
        F.sum(F.when(~in_1998, F.col("l_quantity")).otherwise(0.0)).alias(
            "qty_outside"
        ),
    )
    excess = flows.filter(
        (F.round("qty_outside", 2) > F.round(0.5 * F.col("qty_1998"), 2))
        & (F.col("qty_1998") > 0)
    ).select("l_suppkey")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
