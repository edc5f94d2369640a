"""Relational core: scans, projection/filter, joins, aggregation,
sort/limit/top-k, set ops (SURVEY.md §2C rows S1, P1-P2, J1-J6,
G1-G4, O1-O2, U1-U2).

The reference implements none of these (SURVEY.md §2B — it is a
181-line catalog-refresh CLI, /root/reference/impala-refresher.go);
this is the engine surface an Impala-adjacent system exposes,
re-expressed through Catalyst so pushdown, pruning, join selection,
whole-stage codegen and AQE are all automatic.

Scale notes per operator are inline; the common rules:

- Star joins: fact table (lineitem) stays partitioned; bounded dims
  (region, nation) are broadcast explicitly; mid-size dims are left
  to AQE, which switches shuffle->broadcast at runtime when the
  built side is small enough.
- Aggregations are hash aggregates with map-side partial aggregation
  (Catalyst default) — shuffle volume is #groups, not #rows.
- Top-k per group uses row_number over a partitioned window: one
  shuffle on the partition key; no global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import fan_out, load_table


# ---------------------------------------------------------------------------
# Flagship star query (J6 + G1 + F2 + O1 in one plan)
# ---------------------------------------------------------------------------

def revenue_by_region_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by region and order year over the full star join.

    lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region, date-range filter,
    group, sum, sort. At 100 TB: lineitem⋈orders shuffles on orderkey
    (both huge), customer may shuffle, nation/region broadcast — the
    exact plan AQE produces from this declarative form.
    """
    # The dims all broadcast, so without a shuffle anywhere the whole
    # pipeline would run at the fact scan's parallelism — fan_out
    # guarantees that's the core count when the input arrives in few
    # splits (no-op at scale, where splits >> cores).
    lineitem = fan_out(load_table(spark, sf_dir, "lineitem"))
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("region_name", "order_year")
    )


_REVENUE_ORACLE = """
    SELECT r_name AS region_name,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1999-01-01'
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

query("star_join_revenue", _REVENUE_ORACLE)(revenue_by_region_year)


# ---------------------------------------------------------------------------
# SQL front-end: the same engine through spark.sql — an Impala user's
# SQL pastes in unchanged (modulo dialect) and hits the same Catalyst
# plan as the DataFrame form above.
# ---------------------------------------------------------------------------

@query("sql_star_revenue", _REVENUE_ORACLE)
def sql_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship star query submitted as LITERAL SQL over registered
    views — proving the full SQL surface (joins, date filter, group,
    aggregate, order) works textually, not just via DataFrame calls.
    Catalyst compiles both forms to the same optimized plan."""
    from impala_refresher_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem", "orders", "customer", "nation", "region"))
    return spark.sql(
        """
        SELECT r_name AS region_name,
               CAST(year(o_orderdate) AS INT) AS order_year,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1999-01-01'
        GROUP BY 1, 2
        ORDER BY 1, 2
        """
    )


# ---------------------------------------------------------------------------
# S1 — parquet scan (trivial on its own; declared so the scan path is checked)
# ---------------------------------------------------------------------------

@query(
    "scan_parquet",
    """
    SELECT r_regionkey, r_name FROM region
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: bare columnar scan. .explain shows ReadSchema pruned to the
    selected columns — the same scan node that reads 100 TB."""
    return load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


# ---------------------------------------------------------------------------
# P1 — projection with computed columns
# ---------------------------------------------------------------------------

@query(
    "project_computed",
    """
    SELECT l_orderkey,
           l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged,
           CAST(l_quantity AS BIGINT) AS qty
    FROM lineitem
    """,
)
def project_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: pure projection — no shuffle at any scale; column pruning
    means the scan reads exactly 6 of lineitem's 11 columns.

    Per-row arithmetic is left unrounded: identical IEEE double ops are
    bitwise-equal across engines, whereas ROUND at an exact .xx5
    boundary (common for cent-quantized inputs) is not.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("charged"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )


# ---------------------------------------------------------------------------
# P2 — compound-predicate filter (BETWEEN / IN / LIKE / IS NULL)
# ---------------------------------------------------------------------------

@query(
    "filter_compound",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_totalprice BETWEEN 1000 AND 150000
      AND o_orderstatus IN ('O', 'F')
      AND o_orderpriority LIKE '%URGENT%'
      AND o_custkey IS NOT NULL
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: every predicate here is pushdown-eligible — at scale the
    parquet scan itself skips row groups via min/max stats."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_totalprice").between(1000, 150000)
        & F.col("o_orderstatus").isin("O", "F")
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


# ---------------------------------------------------------------------------
# J1 — inner equi-join (Catalyst picks SMJ/shuffle-hash; AQE may flip to
# broadcast at runtime)
# ---------------------------------------------------------------------------

@query(
    "join_inner",
    """
    SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus = 'F'
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    c = load_table(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# J2 — broadcast join (explicit hint on a bounded dimension)
# ---------------------------------------------------------------------------

@query(
    "join_broadcast_dim",
    """
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l_extendedprice), 2) AS gross
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size <= 20
    GROUP BY p_brand
    """,
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: part is a dimension — broadcast it so the fact table never
    shuffles for this join. At 100 TB this saves the single largest
    shuffle in the plan (lineitem is ~80% of total bytes)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_items"), F.round(F.sum("l_extendedprice"), 2).alias("gross"))
    )


# ---------------------------------------------------------------------------
# J3 — outer joins
# ---------------------------------------------------------------------------

@query(
    "join_left_outer",
    """
    SELECT c_custkey, c_name,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           ROUND(COALESCE(SUM(o_totalprice), 0), 2) AS spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 left: customers with zero orders survive with n_orders=0."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spend"),
        )
    )


@query(
    "join_full_outer",
    """
    SELECT n_nationkey, n_name, s_suppkey, s_name
    FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 full: nations without suppliers and (hypothetical) orphan
    suppliers both appear with NULLs on the missing side."""
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full").select(
        "n_nationkey", "n_name", "s_suppkey", "s_name"
    )


@query(
    "join_right_outer",
    """
    SELECT c_custkey, c_name,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 right: preserved side is the right (customer) — customers
    with no orders survive with n_orders=0. Catalyst plans right outer
    as a mirrored left outer, so the same broadcast/shuffle choices
    apply."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# J4 — semi / anti joins
# ---------------------------------------------------------------------------

@query(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 semi: EXISTS — output carries only left columns, the right
    side is consumed as a filter (no row multiplication, no wide rows
    through the shuffle)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 anti: NOT EXISTS — customers who never ordered."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# J5 — theta / range join (equi component + non-equi residual)
# ---------------------------------------------------------------------------

@query(
    "join_range",
    """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM supplier
    JOIN customer ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: the equi key (nationkey) drives the shuffle; the range
    predicate is a post-join residual. Without the equi component this
    would be a cartesian product — at scale, always pair a range
    predicate with at least one equi key (or bucketize the range)."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (c.c_acctbal > s.s_acctbal))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "range_join_count_orderstat",
    """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM supplier
    JOIN customer ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def range_join_count_orderstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: COUNT over a range join WITHOUT materializing the pairs —
    the order-statistics rewrite of `join_range`. Per supplier, the
    number of same-nation customers with a strictly higher balance is
    a running count over the merged, balance-sorted stream of both
    sides; summing per nation gives exactly the pair count.

    Why it matters at 100 TB: `join_range`'s honest pair join emits
    |S_n|·|C_n| rows per nation before the aggregate — quadratic in
    the hot nation. This plan is ONE shuffle on the nation key and a
    per-partition sort: O((|S|+|C|) log) work, linear output. The
    oracle is deliberately the NAIVE pair-join SQL, so the check
    proves the rewrite is answer-identical, not just plausible. Ties:
    suppliers sort before equal-balance customers (side 0 first), so
    `>` stays strict. Use whenever the range join feeds ONLY an
    aggregate; keep the real join when pair payloads are consumed."""
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"),
        F.col("s_acctbal").alias("bal"),
        F.lit(0).alias("side"),
        F.lit(0).cast("long").alias("is_cust"),
        F.col("s_suppkey").alias("id"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_acctbal").alias("bal"),
        F.lit(1).alias("side"),
        F.lit(1).cast("long").alias("is_cust"),
        F.col("c_custkey").alias("id"),
    )
    w = (
        W.partitionBy("nk")
        .orderBy(F.col("bal").desc(), F.col("side").asc(), F.col("id").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        s.unionByName(c)
        .select("nk", "side", F.sum("is_cust").over(w).alias("n_above"))
        .filter(F.col("side") == 0)
        .groupBy("nk")
        .agg(F.sum("n_above").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
        .join(F.broadcast(n), F.col("nk") == n.n_nationkey)
        .select("n_name", "n_pairs")
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join — shuffle-free by layout, not by luck
# ---------------------------------------------------------------------------

def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders + customer as bucketed/sorted tables (8
    buckets on the join key) once per sf_dir; return the table names.

    This is the ingest-time contract that makes repeated big joins
    cheap: both sides hash-partitioned into the same bucket count on
    the join key at WRITE time, so every later join on that key skips
    the exchange entirely. At 100 TB this one-time layout cost
    amortizes across every downstream join/aggregate on the key.
    """
    import shutil

    from impala_refresher_spark.sources.tables import scratch_tag

    # freshness-keyed: an in-place fixture update changes the tag, so a
    # stale bucketed copy is never reused (it would diverge from the
    # oracle, which always reads the raw files)
    tag = scratch_tag(sf_dir, "orders", "customer")
    t_orders, t_cust = f"orders_bkt_{tag}", f"customer_bkt_{tag}"
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
    for name, src, key in ((t_orders, "orders", "o_custkey"), (t_cust, "customer", "c_custkey")):
        if not spark.catalog.tableExists(name):
            # the session catalog is in-memory: a fresh process may find
            # the managed location on disk without the table — clear it
            shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
            (
                load_table(spark, sf_dir, src)
                .write.bucketBy(8, key)
                .sortBy(key)
                .mode("overwrite")
                .saveAsTable(name)
            )
    return t_orders, t_cust


@query(
    "join_bucketed",
    """
    SELECT c_custkey, c_name,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS spend
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join on pre-bucketed tables: zero Exchange nodes in
    the physical plan (asserted in tests/test_plans.py) — the sort-
    merge join reads both sides' buckets directly, and even the
    post-join aggregate on the same key stays exchange-free. The
    merge hint pins SMJ so the demonstration doesn't degenerate to a
    broadcast at small SF."""
    t_orders, t_cust = _bucketed_tables(spark, sf_dir)
    o = spark.table(t_orders)
    c = spark.table(t_cust)
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
        )
    )


# ---------------------------------------------------------------------------
# Salted join — the manual skew remedy, correctness-identical to the
# plain join (AQE skew-join is the automatic path; salting is the
# explicit one for when a single key dwarfs everything)
# ---------------------------------------------------------------------------

_SALT_BUCKETS = 8


@query(
    "join_skew_salted",
    """
    SELECT o_orderpriority,
           ROUND(SUM(l_extendedprice), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join: the (hypothetically hot-keyed) fact side
    gets a deterministic salt in [0, N); the other side is replicated
    N ways with every salt value; the join key becomes (key, salt) so
    one hot key spreads over N reducers instead of melting one.

    Cost model: N-fold replication of the smaller side's rows through
    the shuffle buys N-way spread of the hot key — worth it only when
    skew dominates; first preference is AQE's skew-join split (on in
    session.py), which rewrites only the oversized partitions. The
    oracle is the PLAIN join: salting must not change a single row.
    """
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.col("l_linenumber"), F.lit(_SALT_BUCKETS))
    )
    o = load_table(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(_SALT_BUCKETS)]))
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# G1 — hash aggregate battery (TPC-H Q1 shape)
# ---------------------------------------------------------------------------

@query(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 2) AS avg_qty,
           ROUND(AVG(l_extendedprice), 2) AS avg_price,
           ROUND(MIN(l_extendedprice), 2) AS min_price,
           ROUND(MAX(l_extendedprice), 2) AS max_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: classic hash aggregate. Partial (map-side) aggregation means
    the shuffle carries #distinct(returnflag,linestatus) rows per task
    — a few dozen bytes regardless of input scale."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count("*").alias("count_order"),
    )


# ---------------------------------------------------------------------------
# G2 — exact + approximate distinct
# ---------------------------------------------------------------------------

@query(
    "agg_count_distinct",
    """
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 exact: count distinct expands to a two-phase aggregate.
    At scale prefer approx_count_distinct (below) when ±2% is fine —
    HLL sketches merge map-side and never shuffle raw keys."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count("*").alias("n_orders"),
    )


@query("agg_approx_distinct")  # rows-only: HLL result is impl-specific
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 approx: HyperLogLog++. No SQL oracle — sketch estimates are
    implementation-specific; the unit test asserts relative error."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("approx_customers")
    )


# ---------------------------------------------------------------------------
# G3 — rollup / cube / grouping sets
# ---------------------------------------------------------------------------

@query(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: rollup = grouping sets {(a,b),(a),()} in one pass
    (Catalyst expands; still a single shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n"),
    )


@query(
    "agg_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           ROUND(SUM(o_totalprice), 2) AS total,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.count("*").alias("n"),
    )


@query(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice), 2) AS revenue,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3: explicit GROUPING SETS with sets rollup/cube can't express
    — {(l_returnflag), (l_linestatus)}, no (a,b) and no grand total.
    Catalyst expands to a single Expand + hash aggregate: one shuffle,
    rows duplicated only #sets times on the map side."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
    ).agg(
        F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        F.count("*").alias("n"),
    )


@query(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.5)) / 100.0 AS p50,
           ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT),
                               0.95)) / 100.0 AS p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile``
    = DuckDB ``quantile_cont``: same linear interpolation). Exact
    percentile buffers each group's values — fine for bounded groups;
    for unbounded ones the scale path is ``percentile_approx``
    (t-digest sketch, mergeable map-side like any partial aggregate).

    Integer-cents discipline (the subsample_ci class, caught by the
    r05 driver-precision canon at sf0.001): a median of 2-dp money
    values interpolates adjacent cents at f=0.5, landing EXACTLY on a
    half-cent — ROUND(·, 2) of the two engines' ulp-different lerps
    then flips a cent. Interpolating over exact BIGINT cents removes
    that class for the dyadic f=0.5 (the lerp is exact IEEE); for
    p95 and other non-dyadic fractions the lerp is still inexact
    double arithmetic, and cross-engine agreement relies on both
    engines computing the identical h = f·(n−1) lerp formula to
    bit-identical doubles, plus scale-0 rounding being tie-safe in
    the integer-cents domain — the guard is the pinned regression in
    tests/test_edge_cases.py, not exactness."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return li.groupBy("l_returnflag").agg(
        (F.round(F.percentile(cents, F.lit(0.5))) / 100).alias("p50"),
        (F.round(F.percentile(cents, F.lit(0.95))) / 100).alias("p95"),
    )


@query("agg_approx_percentiles")  # rows-only: sketch internals are engine-specific
def agg_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles per group — the 100 TB path the exact
    ``agg_percentiles`` docstring points at. ``percentile_approx``
    (Greenwald-Khanna sketch, accuracy 10000 → ~0.01% rank error) is a
    mergeable partial aggregate: each task sketches its partition,
    sketches merge map-side, and NO group ever buffers its full value
    list — bounded memory however hot the group. Deterministic given
    the input, but the sketch is Spark-specific, so the driver check
    is rows-only; ε-closeness to the exact percentile is asserted in
    ``tests/test_llm_ops.py``."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(
            F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)), 2
        ).alias("p50_approx"),
        F.round(
            F.percentile_approx("l_extendedprice", F.lit(0.95), F.lit(10000)), 2
        ).alias("p95_approx"),
    )


# ---------------------------------------------------------------------------
# G4 — HAVING-style post-aggregation filter
# ---------------------------------------------------------------------------

@query(
    "agg_having",
    """
    SELECT o_custkey,
           ROUND(SUM(o_totalprice), 2) AS spend,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 5 AND SUM(o_totalprice) > 200000
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
            F.count("*").alias("n_orders"),
            F.sum("o_totalprice").alias("_raw_spend"),
        )
        .filter((F.col("n_orders") >= 5) & (F.col("_raw_spend") > 200000))
        .drop("_raw_spend")
    )


@query(
    "agg_pivot",
    """
    SELECT o_orderpriority,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'F'), 0), 2) AS f_total,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'O'), 0), 2) AS o_total,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (o_orderstatus = 'P'), 0), 2) AS p_total
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: long -> wide on a bounded category column. With the pivot
    values enumerated, Catalyst plans ONE pass with conditional
    aggregates (same cost as the plain groupBy) — always list the
    values at scale; value discovery otherwise costs an extra job.
    Oracle: the equivalent FILTERed conditional aggregation."""
    o = load_table(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2))
    )
    # coalesce AFTER the pivot: for a (priority, status) combination
    # with no rows Spark emits a NULL cell directly — the in-aggregate
    # coalesce above never runs for absent combos, while the oracle's
    # FILTER + COALESCE yields 0.00 (hypothesis-found divergence,
    # unreachable on the all-combos fixture)
    return wide.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0.0)).alias("f_total"),
        F.coalesce(F.col("O"), F.lit(0.0)).alias("o_total"),
        F.coalesce(F.col("P"), F.lit(0.0)).alias("p_total"),
    )


@query(
    "unpivot_metrics",
    """
    SELECT c_custkey, metric, val FROM (
      SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
      UNION ALL
      SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DOUBLE) FROM customer
    )
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide -> long without a shuffle — each input row
    expands to one output row per value column, map-side. The metric
    name column becomes the grouping key for downstream per-metric
    aggregation."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", "c_acctbal", F.col("c_nationkey").cast("double").alias("c_nationkey")
    ).unpivot(
        ids=["c_custkey"],
        values=["c_acctbal", "c_nationkey"],
        variableColumnName="metric",
        valueColumnName="val",
    ).withColumn(
        "metric",
        F.when(F.col("metric") == "c_acctbal", "acctbal").otherwise("nationkey"),
    )


@query(
    "sample_hash_deterministic",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '14'
    """,
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~8% sample by key-hash prefix (md5 agrees across
    engines byte-for-byte, unlike TABLESAMPLE's engine-specific RNG).
    This is the reproducible-sampling idiom for pipeline debugging and
    train/holdout splits: stable under reruns, partitioning, AND
    engine changes — and it pushes down as an ordinary filter."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) <= "14"
    ).select("o_orderkey", "o_totalprice")


@query(
    "fn_maps",
    """
    SELECT p_partkey,
           CAST(2 AS INTEGER) AS n_keys,
           p_brand AS brand_val,
           CAST(p_size AS DOUBLE) AS size_val
    FROM part
    """,
)
def fn_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-type surface: build map<string,string>/typed lookups and
    extract back to scalars (the oracle checks the extracted values —
    map internals are engine-opaque). At scale maps trade schema
    evolution freedom for column pruning: extract hot keys to real
    columns before heavy reuse."""
    p = load_table(spark, sf_dir, "part")
    m = F.create_map(
        F.lit("brand"), F.col("p_brand"),
        F.lit("size"), F.col("p_size").cast("string"),
    )
    return p.select("p_partkey", m.alias("attrs")).select(
        "p_partkey",
        F.size(F.map_keys(F.col("attrs"))).alias("n_keys"),
        F.col("attrs")["brand"].alias("brand_val"),
        F.element_at(F.col("attrs"), "size").cast("double").alias("size_val"),
    )


# ---------------------------------------------------------------------------
# O1 — global multi-key sort with explicit null placement + limit
# ---------------------------------------------------------------------------

@query(
    "order_topn",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC
    LIMIT 100
    """,
)
def order_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2: sort + limit compiles to TakeOrderedAndProject — each
    partition keeps its local top-100, the driver merges. No global
    sort materializes even at 100 TB."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc_nulls_last(), F.col("o_orderkey").asc())
        .limit(100)
    )


@query(
    "order_global_sort",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal
    FROM customer
    ORDER BY c_mktsegment ASC NULLS FIRST, c_acctbal DESC NULLS LAST, c_custkey ASC
    """,
)
def order_global_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 without a limit: a true global sort — Exchange
    rangepartitioning (driver samples key ranges, partitions sort
    independently, concatenation is totally ordered). The expensive
    cousin of TakeOrdered; only for full ordered output (exports,
    merge-ready files). Null placement pinned on both engines —
    Spark and DuckDB default opposite ends."""
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_mktsegment", "c_custkey", "c_acctbal").orderBy(
        F.col("c_mktsegment").asc_nulls_first(),
        F.col("c_acctbal").desc_nulls_last(),
        F.col("c_custkey").asc(),
    )


# ---------------------------------------------------------------------------
# O2 — top-k per group (window, not global sort)
# ---------------------------------------------------------------------------

@query(
    "topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal, rk
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey ASC) AS INTEGER) AS rk
      FROM customer
    ) t WHERE rk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: row_number ≤ k — one shuffle on the group key; ties broken
    deterministically by custkey so the result is oracle-stable."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        c.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rk")
    )


# ---------------------------------------------------------------------------
# U1 — union all / union distinct
# ---------------------------------------------------------------------------

@query(
    "union_all",
    """
    SELECT o_orderkey AS okey, o_totalprice AS price FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey AS okey, o_totalprice AS price FROM orders WHERE o_totalprice > 100000
    """,
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: UNION ALL is a zero-shuffle concatenation of partitions."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderkey").alias("okey"), F.col("o_totalprice").alias("price")
    )
    b = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_orderkey").alias("okey"), F.col("o_totalprice").alias("price")
    )
    return a.unionAll(b)


@query(
    "union_distinct",
    """
    SELECT c_nationkey AS nk FROM customer
    UNION
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: UNION DISTINCT = concat + hash-distinct (one shuffle on all
    columns; partial distinct runs map-side first)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct()


# ---------------------------------------------------------------------------
# U2 — intersect / except (+ _all variants)
# ---------------------------------------------------------------------------

@query(
    "intersect_keys",
    """
    SELECT c_nationkey AS nk FROM customer
    INTERSECT
    SELECT s_nationkey AS nk FROM supplier
    """,
)
def intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s)


@query(
    "intersect_all_keys",
    """
    SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'
    """,
)
def intersect_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: INTERSECT ALL keeps min-multiplicity bag semantics —
    Catalyst plans it as a counted semi-join shape, one shuffle per
    side on the compared columns (same scale behavior as a groupBy)."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("ck"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("ck"))
    return a.intersectAll(b)


@query(
    "except_all_keys",
    """
    SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'O'
    EXCEPT ALL
    SELECT o_custkey AS ck FROM orders WHERE o_orderstatus = 'F'
    """,
)
def except_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: EXCEPT ALL keeps multiplicity (bag semantics) — implemented
    by Catalyst as a counted anti-join, one shuffle."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("ck"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("ck"))
    return a.exceptAll(b)


# ---------------------------------------------------------------------------
# Correlated subqueries through the SQL front-end
# ---------------------------------------------------------------------------

@query(
    "sql_exists_subquery",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
                        AND o2.o_totalprice > 400000)
    """,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS via ``spark.sql`` — Catalyst
    decorrelates both into a left-semi and a left-anti join on
    o_custkey (no per-row re-execution), with the totalprice filters
    pushed below the joins into the orders scan. The identical SQL
    text runs on the oracle, so this checks the SQL front-end path,
    not just the DataFrame builders."""
    from impala_refresher_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
          AND NOT EXISTS (SELECT 1 FROM orders o2
                          WHERE o2.o_custkey = c.c_custkey AND o2.o_orderstatus = 'F'
                            AND o2.o_totalprice > 400000)
        """
    )


@query(
    "sql_pipe_syntax_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL pipe syntax (`|>` operators, SPARK-49555) driving
    the Q1-style pricing summary: each clause is a self-contained
    table transform applied top-to-bottom — the textual analogue of
    DataFrame chaining, and the third front-end form pinned by this
    registry (DataFrame ≡ classic SQL ≡ piped SQL all hit the same
    Catalyst plan). The oracle is the classic-SQL spelling, so the
    differential proves front-end equivalence, not just that it
    parses."""
    from impala_refresher_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_shipdate < TIMESTAMP '1998-09-01'
        |> AGGREGATE ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                         AS revenue,
                     COUNT(*) AS n_items
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, revenue, n_items
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


@query(
    "fn_structs",
    """
    WITH built AS (
        SELECT o_orderkey,
               {'status': o_orderstatus,
                'cents': CAST(ROUND(o_totalprice * 100) AS BIGINT)} AS info,
               [{'k': 'prio', 'v': o_orderpriority}] AS tags
        FROM orders
    )
    SELECT o_orderkey,
           info.status AS status_val,
           info.cents AS cents_val,
           CAST(LEN(tags) AS INTEGER) AS n_tags,
           tags[1].v AS first_tag
    FROM built
    WHERE info.cents > 100000
    ORDER BY o_orderkey
    """,
)
def fn_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct-type surface (completing the complex-type row F4/F5/fn_maps
    trio): build nested structs and arrays-of-structs, filter on a
    nested field, and project fields back out — the oracle checks the
    EXTRACTED scalars, since struct renderings are engine-opaque.

    Nested-field access is pure codegen, and Catalyst prunes unread
    struct fields out of the scan schema (the same column-pruning
    story as flat columns — at 100 TB a wide struct costs only the
    fields you touch). The nested filter constant-folds into a plain
    column predicate and pushes to the scan."""
    o = load_table(spark, sf_dir, "orders")
    built = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        ).alias("info"),
        F.array(
            F.struct(
                F.lit("prio").alias("k"), F.col("o_orderpriority").alias("v")
            )
        ).alias("tags"),
    )
    return (
        built.filter(F.col("info.cents") > 100_000)
        .select(
            "o_orderkey",
            F.col("info.status").alias("status_val"),
            F.col("info.cents").alias("cents_val"),
            F.size("tags").alias("n_tags"),
            F.element_at("tags", 1)["v"].alias("first_tag"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "sql_parameterized_filter",
    """
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS total
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice >= 400000
    ORDER BY o_orderkey
    """,
)
def sql_parameterized_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (named-parameter binding, Spark 3.4+/4):
    the query text carries ``:status`` / ``:floor`` placeholders and
    values bind server-side — the injection-safe front-end form for
    templated dashboards and services (string-concatenated SQL is the
    alternative this exists to kill). Fourth front-end form pinned by
    the registry (DataFrame / classic SQL / piped SQL / parameterized
    SQL); the oracle is the resolved constant query, so the
    differential proves binding changes nothing semantically —
    parameters constant-fold and the predicate still pushes to the
    scan."""
    from impala_refresher_spark.sources.tables import register_views

    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS total
        FROM orders
        WHERE o_orderstatus = :status AND o_totalprice >= :floor
        ORDER BY o_orderkey
        """,
        args={"status": "F", "floor": 400000},
    )
