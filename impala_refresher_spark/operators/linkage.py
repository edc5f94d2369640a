"""Record-linkage operators: blocked fuzzy (edit-distance) joins for
entity resolution — the string-similarity counterpart of the vector
near-dup family in ``operators/dedup.py``.

The reference has no data plane (impala-refresher.go:49 — its one
statement is ``refresh``); this extends the engine per SURVEY.md §2C.

Scale notes (100 TB):
- NEVER an all-pairs compare: candidate pairs come from an equi-join
  on a blocking key (here the trailing token of the name), so the
  shuffle is a plain hash join keyed by block — the same posting-list
  shape as ``dedup_ngram_jaccard``. Per-block pair count is bounded
  by block vocabulary, and the length-difference prefilter
  (|len(a)−len(b)| ≤ k, a lower bound on Levenshtein) prunes
  candidates BEFORE the O(len²) edit-distance kernel runs.
- At 100 TB with high-cardinality names, swap the single trailing-
  token block for multi-pass q-gram prefix blocking (union of per-
  pass candidates, dedup on the pair key) and salt hot blocks with
  the triangle grid from ``operators/similarity.py`` — candidate
  generation stays an equi-join either way.
- ``levenshtein`` is a JVM codegen built-in (no Python in the loop);
  both engines implement unit-cost Levenshtein, so the differential
  hash-matches exactly on the fixtures.

Dialect limitation (r06 audit, pinned in tests/test_edge_cases.py):
Spark's ``levenshtein`` counts CODEPOINT edits while DuckDB 1.x's is
BYTE-based — 'é' vs 'e' is 1 on Spark, 2 on DuckDB; '中文' vs '中'
is 1 vs 3. The engine side is the correct one; the oracle contract
therefore holds for ASCII names (TPC-H part names are ASCII by
construction). Non-ASCII vocabularies keep correct ENGINE results;
only the DuckDB differential would need a codepoint-faithful
replacement (none exists as a DuckDB built-in, and fixed-width
re-encoding does not preserve unit edit costs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_refresher_spark.operators.dedup import _sql_components_walk, connected_components
from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import load_table


@query(
    "fuzzy_join_part_names",
    """
    WITH names AS (
        SELECT DISTINCT p_name FROM part
    ),
    blocked AS (
        SELECT p_name,
               REGEXP_EXTRACT(p_name, '[^ ]+$') AS block,
               LENGTH(p_name) AS len
        FROM names
    )
    SELECT a.p_name AS name_a,
           b.p_name AS name_b,
           CAST(LEVENSHTEIN(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM blocked a
    JOIN blocked b
      ON a.block = b.block
     AND a.p_name < b.p_name
     AND ABS(a.len - b.len) <= 3
    WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 3
    ORDER BY edit_dist, name_a, name_b
    """,
)
def fuzzy_join_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join: part-name pairs within edit distance 3,
    candidates generated by an equi-join on the trailing token (the
    product noun) — classic record-linkage blocking.

    The distinct-name relation is tiny relative to the fact table (the
    vocabulary), so the blocked self-join runs over vocabulary, never
    rows; the length-difference bound (a Levenshtein lower bound)
    prunes pairs before the quadratic kernel. All comparisons are JVM
    built-ins inside codegen."""
    names = load_table(spark, sf_dir, "part").select("p_name").distinct()
    blocked = names.select(
        "p_name",
        F.regexp_extract("p_name", "[^ ]+$", 0).alias("block"),
        F.length("p_name").alias("len"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") < F.col("b.p_name"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= 3),
        )
        .filter(dist <= 3)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("long").alias("edit_dist"),
        )
        .orderBy("edit_dist", "name_a", "name_b")
    )


@query(
    "entity_resolution_clusters",
    f"""
    WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
        SELECT p_name, REGEXP_EXTRACT(p_name, '[^ ]+$') AS block,
               LENGTH(p_name) AS len
        FROM names
    ),
    pairs AS (
        SELECT a.p_name AS na, b.p_name AS nb
        FROM blocked a JOIN blocked b
          ON a.block = b.block AND a.p_name < b.p_name
         AND ABS(a.len - b.len) <= 3
        WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 3
    ),
    {_sql_components_walk("na", "nb")},
    labels AS (
        SELECT node AS p_name, MIN(reach) AS canonical
        FROM walk GROUP BY node
    ),
    resolved AS (
        SELECT n.p_name, COALESCE(l.canonical, n.p_name) AS canonical
        FROM names n LEFT JOIN labels l ON n.p_name = l.p_name
    )
    SELECT p_name, canonical,
           CAST(COUNT(*) OVER (PARTITION BY canonical) AS BIGINT)
               AS cluster_size
    FROM resolved
    ORDER BY canonical, p_name
    """,
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: the blocked fuzzy join above
    supplies the match graph, min-label connected components
    (``operators/dedup.py``) collapse transitive matches (A~B~C merge
    even when A,C were never directly compared), and every name maps
    to its cluster's canonical form (lexicographic min) with the
    cluster size — the master-data / golden-record primitive.

    Composition reuses the two already-scale-shaped pieces unchanged:
    candidate pairs are block-bounded (never n²), and the CC loop is
    one join + one groupBy per round over the match graph — which is
    VOCABULARY-sized, orders of magnitude below the fact table.
    Unmatched names pass through as their own singleton clusters via
    a left join (no lost entities). Oracle: the same pair predicate
    fed through a recursive-CTE transitive closure."""
    names = (
        load_table(spark, sf_dir, "part").select("p_name").distinct()
    )
    pairs = fuzzy_join_part_names(spark, sf_dir).select("name_a", "name_b")
    labels = connected_components(pairs, "name_a", "name_b").select(
        F.col("node").alias("p_name"), F.col("label").alias("canonical")
    )
    resolved = (
        names.join(labels, "p_name", "left")
        .select(
            "p_name",
            F.coalesce("canonical", F.col("p_name")).alias("canonical"),
        )
    )
    from pyspark.sql import Window

    size_w = Window.partitionBy("canonical")
    return (
        resolved.withColumn(
            "cluster_size", F.count("*").over(size_w).cast("long")
        )
        .orderBy("canonical", "p_name")
    )
