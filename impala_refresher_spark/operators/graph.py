"""Graph analytics over the relational fixture: PageRank by unrolled
power iteration on the bipartite customer↔supplier purchase graph.

Spark-first shape for iterative graph algorithms (same discipline as
the k-means and connected-components operators): each iteration is ONE
edge-relation join against the current rank vector plus ONE hash
aggregate on the destination key — no GraphX, no RDDs, no driver-side
adjacency. At 100 TB the edge list is the fact table: the per-iteration
cost is two shuffles (join on src, aggregate on dst), ranks and degrees
are node-sized relations co-partitioned with the edges, and a
convergence loop would add `localCheckpoint` lineage truncation per
round exactly as `dedup_cluster_components` does. The oracle unrolls
the same two iterations in SQL, so the differential checks the math,
not just the row count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import fan_out, load_table

_DAMP = 0.85
_TELEPORT = 0.15


@query(
    "pagerank_bipartite",
    """
    WITH e0 AS (
      SELECT DISTINCT (o.o_custkey << 1) AS c, ((l.l_suppkey << 1) | 1) AS s
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    edges AS (SELECT c AS src, s AS dst FROM e0
              UNION ALL SELECT s AS src, c AS dst FROM e0),
    deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM nodes),
    pr0 AS (SELECT node, 1.0 / n_nodes AS pr FROM nodes CROSS JOIN n),
    it1 AS (
      SELECT e.dst AS node, SUM(p.pr / d.outdeg) AS s
      FROM edges e
      JOIN pr0 p ON e.src = p.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    pr1 AS (SELECT node, ROUND(0.15 / n_nodes + 0.85 * s, 6) AS pr
            FROM it1 CROSS JOIN n),
    it2 AS (
      SELECT e.dst AS node, SUM(p.pr / d.outdeg) AS s
      FROM edges e
      JOIN pr1 p ON e.src = p.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    pr2 AS (SELECT node, ROUND(0.15 / n_nodes + 0.85 * s, 6) AS pr
            FROM it2 CROSS JOIN n)
    SELECT CASE WHEN (node & 1) = 0 THEN 'c' ELSE 's' END
             || CAST(node >> 1 AS VARCHAR) AS node,
           pr
    FROM pr2
    """,
)
def pagerank_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85), two unrolled power iterations, over the
    undirected bipartite graph customer —bought-from→ supplier derived
    from orders⋈lineitem (each undirected edge becomes two directed
    edges, so every node has in-edges and the dangling-node correction
    never triggers — documented, not silently assumed).

    Per-iteration float discipline follows `kmeans_refine_assignments`:
    the rank vector is ROUND(·,6)-stabilized after each iteration so
    the next iteration's inputs are decimal-terminating in both
    engines, keeping the accumulation-order-sensitive SUM the only
    ulp-risk per round instead of compounding across rounds.
    """
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = fan_out(load_table(spark, sf_dir, "lineitem")).select(
        "l_orderkey", "l_suppkey"
    )
    # Nodes are packed bigints (custkey<<1 / suppkey<<1|1), not
    # strings: the iteration joins shuffle on the node key, and 8-byte
    # longs hash/compare far cheaper than formatted strings at any
    # scale. The readable 'c123'/'s45' form is reconstructed only in
    # the final projection.
    e0 = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.shiftleft("o_custkey", 1).alias("c"),
            F.shiftleft("l_suppkey", 1).bitwiseOR(F.lit(1)).alias("s"),
        )
        .distinct()
    )
    # Undirected doubling by exploding both directions in place (r10):
    # the earlier unionAll of two selects inlined the orders⋈lineitem
    # join + distinct into BOTH branches, so the one checkpoint
    # materialization below executed the edge derivation twice.
    edges = e0.select(
        F.explode(
            F.array(
                F.struct(F.col("c").alias("src"), F.col("s").alias("dst")),
                F.struct(F.col("s").alias("src"), F.col("c").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    # Attach the out-degree to the edge relation ONCE, outside the
    # loop, as a COUNT window over the src partition: one shuffle on
    # src produces the weighted edge relation directly. (The earlier
    # aggregate-then-join form shuffled edges twice — once for the
    # degree aggregate, once for the attach join — and materialized
    # the edge list twice; the window form halves the pre-loop cost.)
    # Scale trade, stated: the window buffers one src's edges per
    # partition group (sort-spill for a power-law hub, never OOM);
    # on a graph with 10^8-degree hubs prefer the two-shuffle
    # aggregate+join form whose degree count partial-aggregates
    # map-side — for this bipartite purchase graph (degree ≤ orders
    # per customer) the single-shuffle window wins.
    # The contribution stays pr / outdeg — the same IEEE division the
    # oracle performs. Checkpointed ONCE: both iteration joins consume
    # it, and without the cut each would re-run the orders⋈lineitem
    # distinct (a production PageRank materializes exactly this
    # relation before iterating).
    edges_w = edges.withColumn(
        "outdeg", F.count("*").over(Window.partitionBy("src")).cast("double")
    ).localCheckpoint()
    # every node has out-edges after the undirected doubling, so the
    # node count is the distinct src count over the materialized edges.
    # ONE driver-side scalar (a single long — the repo's legitimate
    # scalar-collect class): as a crossJoin(broadcast(agg)) it was
    # re-planned per consumer, so the 2-exchange distinct over the
    # edge relation ran three times (r09 plan audit: operators 8-16 /
    # 21-29 were byte-identical count_distinct chains). The double
    # arithmetic is unchanged: 1.0/n and 0.15/n divide the same IEEE
    # double either way.
    n_nodes = F.lit(
        float(edges_w.agg(F.count_distinct("src").cast("double")).collect()[0][0])
    )
    # Iteration 1 constant-folded: the initial rank vector is the
    # uniform 1/n, so the first contribution sum needs NO rank join —
    # the per-edge term (1/n)/outdeg is computable from the edge
    # relation alone (the division sequence is exactly the oracle's
    # p.pr / d.outdeg with p.pr = 1.0/n_nodes, so doubles still
    # match bitwise).
    contrib = edges_w.groupBy("dst").agg(
        F.sum((F.lit(1.0) / n_nodes) / F.col("outdeg")).alias("s")
    )
    pr = contrib.select(
        F.col("dst").alias("node"),
        F.round(_TELEPORT / n_nodes + _DAMP * F.col("s"), 6).alias("pr"),
    )
    for _ in range(1):
        contrib = (
            edges_w.join(pr, edges_w.src == pr.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("s"))
        )
        pr = contrib.select(
            F.col("dst").alias("node"),
            F.round(_TELEPORT / n_nodes + _DAMP * F.col("s"), 6).alias("pr"),
        )
    return pr.select(
        F.concat(
            F.when(F.col("node").bitwiseAND(F.lit(1)) == 0, F.lit("c")).otherwise(
                F.lit("s")
            ),
            F.shiftright("node", 1).cast("string"),
        ).alias("node"),
        "pr",
    )


def _reachability_oracle(max_hops: int) -> str:
    """DuckDB twin of the event-transition reachability queries: hop
    distance from 'signup' over `_transition_edges`' graph, a
    recursive walk bounded at ``max_hops`` and reduced by MIN(dist)."""
    return f"""
    WITH RECURSIVE seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    edges AS (
        SELECT DISTINCT prev_type AS src, event_type AS dst
        FROM seq
        WHERE prev_type IS NOT NULL AND prev_type <> event_type
    ),
    walk AS (
        SELECT 'signup' AS node, 0 AS dist
        UNION ALL
        SELECT e.dst, w.dist + 1
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.dist < {max_hops}
    )
    SELECT node, CAST(MIN(dist) AS INTEGER) AS dist
    FROM walk
    GROUP BY node
    ORDER BY dist, node
    """


def _transition_edges(events: DataFrame) -> DataFrame:
    """(src, dst): the distinct event-type transitions — edge = two
    consecutive events (by ts, event_id) of the same user with
    different types. Value-domain sized (≤ |event_types|² rows)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select("event_type", F.lag("event_type").over(w).alias("prev_type"))
    return (
        seq.filter(
            F.col("prev_type").isNotNull()
            & (F.col("prev_type") != F.col("event_type"))
        )
        .select(F.col("prev_type").alias("src"), F.col("event_type").alias("dst"))
        .distinct()
        # checkpoint FIRST (keeps the fact-sized window parallel),
        # then narrow the value-domain-sized result to one partition
        # so every frontier/recursion round is a 1-task join instead
        # of 32 task launches per hop for KB of data. (coalesce before
        # the checkpoint would collapse the window stage itself to 1
        # task — measured 3x slower.)
        .localCheckpoint()
        .coalesce(1)
    )


@query("bfs_event_transitions", _reachability_oracle(8))
def bfs_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS hop distance from 'signup' over the event-type transition
    graph (edge = two consecutive events by the same user) — the
    reachability/shortest-path primitive that complements PageRank
    (influence) and connected components (clustering) in this module.

    Pregel-style frontier iteration: each round is ONE equi-join of
    the current frontier against the edge relation plus an anti-join
    against the visited set; the loop exits early the first empty
    frontier (a count() on the FRONTIER — node-sized, never the edge
    relation). `localCheckpoint` truncates lineage per round exactly
    as `dedup_cluster_components` does, so the plan does not grow
    with the iteration count. At 100 TB the edge list stays
    partitioned on src across rounds; the frontier is node-sized. The
    oracle replays the same search as a depth-bounded recursive CTE
    reduced by MIN(dist)."""
    edges = _transition_edges(load_table(spark, sf_dir, "events"))
    # 1-partition seed (a literal SELECT), NOT createDataFrame: the
    # latter spreads one row over defaultParallelism mostly-empty
    # partitions, and every loop stage inherits that width. (Also:
    # never coalesce() a plan with a LocalTableScan leg — measured a
    # reproducible ~5 s scheduler stall; coalesce only checkpointed
    # RDDs, where it is a fast narrow read.)
    visited = spark.sql("SELECT 'signup' AS node, CAST(0 AS INT) AS dist")
    frontier = visited
    for hop in range(1, 9):
        frontier = (
            frontier.join(edges, F.col("node") == F.col("src"))
            .select(F.col("dst").alias("node"), F.lit(hop).alias("dist"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint()
            .coalesce(1)
        )
        if frontier.isEmpty():
            break
        # No checkpoint on visited (r10): every leg of this union is
        # already a checkpointed 1-partition frontier (or the literal
        # seed), so the accumulated plan is a flat union of ≤|hops|
        # materialized ExistingRDDs — re-checkpointing it added an
        # eager job per hop without truncating any recomputation.
        # (A wash on wall at sf0.1 — warm min 1.02 s both ways — but
        # one fewer scheduled job per hop, which is the §2.4 fixed
        # cost this loop pays per round at any scale.)
        visited = visited.unionByName(frontier)
    return visited.select("node", "dist").orderBy("dist", "node")


@query("sql_recursive_reachability", _reachability_oracle(3))
def sql_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BFS reachability of `bfs_event_transitions` submitted as a
    LITERAL ``WITH RECURSIVE`` statement through Spark 4's SQL front
    end — the declarative twin of the hand-rolled frontier loop, the
    same way `sql_star_revenue` twins the DataFrame star join. DuckDB
    runs the identical text (modulo nothing — same dialect here).

    Spark's recursive CTEs support UNION ALL only (not UNION), so the
    recursion is depth-bounded at 3 on BOTH engines and reduced by
    MIN(dist): on this dense, ~|event types| transition graph every
    node is reached within 2 hops, and the UNION ALL expansion is
    bounded by out-degree³ rows — fine for a value-domain graph.

    Plan caveat (measured, and now worked around): Spark INLINES a
    non-recursive `edges` CTE into the UnionLoop's recursive branch —
    the physical plan shows the events scan + lag window INSIDE the
    loop, re-derived every iteration (r09 profile: 41 jobs, ~2.0 s,
    most of it four re-runs of the window over the fact table). So the
    fact-sized derivation (scan + lag window + distinct) runs ONCE as
    a DataFrame, is localCheckpoint'ed (the edge list is value-domain
    sized: ≤ |event_types|² rows), and the literal WITH RECURSIVE text
    recurses over that materialized view — each loop iteration now
    joins the frontier against a KB relation instead of replaying the
    window (r09: 2.0 s → ~0.6 s, 41 jobs → ~14). This is exactly what
    `bfs_event_transitions` does by hand; the declarative form keeps
    its recursive-CTE front end, and both stay oracle-checked against
    the same recursive SQL."""
    edges = _transition_edges(load_table(spark, sf_dir, "events"))
    # Bind the edge relation as a templated DataFrame argument instead
    # of a session-global temp view: a generic createOrReplaceTempView
    # name ("reach_edges") is shared session state, and this package
    # runs query branches concurrently elsewhere — a name collision
    # would silently join the wrong edge list.
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
            SELECT 'signup' AS node, 0 AS dist
            UNION ALL
            SELECT e.dst, w.dist + 1
            FROM walk w JOIN {edges} e ON e.src = w.node
            WHERE w.dist < 3
        )
        SELECT node, CAST(MIN(dist) AS INT) AS dist
        FROM walk
        GROUP BY node
        ORDER BY dist, node
        """,
        edges=edges,
    )
