"""Sinks (S2): parquet and CSV writers, declared as round-trip queries
so the write path is oracle-checked (write → re-read → values must
still match the DuckDB view of the original data). Each call writes
into its own fresh directory (``call_dir``), so two sessions or two
calls never share an output path.

Scale notes: ``df.write.parquet`` produces one file per partition —
at 100 TB you size output files via AQE coalescing or an explicit
``repartition(n)`` before the write, and partition the directory tree
by the dominant filter column (``partitionBy``) so downstream scans
prune. CSV is for interchange only; it loses types and compresses
poorly — never the at-scale format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import call_dir, load_table, materialize


@query(
    "sink_parquet_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
    FROM orders
    WHERE o_totalprice > 150000
    """,
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 parquet: write a filtered projection, read it back. Parquet
    round-trips every fixture type exactly (incl. timestamps)."""
    out = call_dir("orders_high_value")
    (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 150000)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .write.parquet(out)
    )
    return spark.read.parquet(out)


@query(
    "sink_csv_roundtrip",
    """
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE c_acctbal >= 0
    """,
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 CSV: write with header, read back with an explicit schema
    (never inferSchema in production — it double-scans).

    multiLine on the read: the writer QUOTES embedded newlines, but
    the default line-splitting reader breaks records at every newline
    regardless of quoting — a string field containing "\\n" silently
    shreds into two mangled rows (measured; the quoted-comma case is
    fine). The cost is that multiLine CSV files are not split across
    tasks — acceptable for an interchange sink; at 100 TB keep
    newline-bearing text in parquet/ORC (S1) instead of CSV."""
    out = call_dir("customer_pos")
    df = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") >= 0)
        .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
    )
    df.write.option("header", True).csv(out)
    return (
        spark.read.schema(df.schema)
        .option("header", True)
        .option("multiLine", True)
        .csv(out)
    )


@query(
    "sink_json_roundtrip",
    """
    SELECT event_id, event_type, value, props
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    """,
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S1 JSON: write JSON-lines, read back with an explicit schema
    (schema inference on JSON is a full extra pass — never at scale).
    The nested ``props`` JSON string survives as-is: the writer quotes
    it as a string field, the reader restores it byte-identically."""
    out = call_dir("events_purchases")
    df = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "signup"))
        .select("event_id", "event_type", "value", "props")
    )
    df.write.json(out)
    return spark.read.schema(df.schema).json(out)


@query(
    "sink_orc_roundtrip",
    """
    SELECT p_partkey, p_name, p_brand, p_retailprice
    FROM part
    WHERE p_retailprice > 950
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 ORC: the other JVM-native columnar format (stripe-level
    statistics and predicate pushdown, like parquet row groups) —
    write a filtered projection, read it back. Interop surface for
    Hive-era lakes; parquet stays the default."""
    out = call_dir("part_premium")
    df = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_retailprice") > 950)
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
    )
    df.write.orc(out)
    return spark.read.schema(df.schema).orc(out)


@query(
    "compact_small_files",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    """,
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-maintenance compaction: rewrite a fragmented table into
    few size-targeted, time-clustered files, then serve from the
    compacted copy (returned re-read must match the source exactly —
    compaction may never change data).

    The fragmented input is manufactured once (a 64-way unclustered
    write — the classic streaming-ingest debris). The compaction pass
    is ``repartitionByRange(ts)`` + in-file sort: range partitioning
    sets the output file COUNT (at 100 TB: total_bytes / target_size
    instead of a constant), and time-clustering gives every file a
    tight ts min/max so row-group pruning works for time-range scans —
    compaction is exactly where that ordering is cheapest to buy."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    frag = materialize(
        "frag_events", sf_dir, ("events",), lambda p: events.repartition(64).write.parquet(p)
    )

    out = call_dir("compacted_events")
    (
        spark.read.parquet(frag)
        .repartitionByRange(4, "ts")
        .sortWithinPartitions("ts")
        .write.parquet(out)
    )
    return spark.read.parquet(out).select("event_id", "user_id", "event_type", "value")


@query(
    "multi_format_union",
    """
    SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 0
    UNION ALL
    SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 1
    UNION ALL
    SELECT event_id, event_type, value FROM events WHERE event_id % 3 = 2
    """,
)
def multi_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landing-zone unification: one logical table arriving in three
    physical formats (parquet from the warehouse, CSV from a legacy
    export, JSON-lines from an API feed), read each with the SAME
    explicit schema and unioned into one DataFrame — the real-world
    first step before any cleaning pipeline.

    Scale notes: the union is plan-level (no shuffle — partitions
    concatenate); each branch keeps its own pushdown capability
    (parquet prunes columns/rows, CSV/JSON read whole rows, which is
    exactly why the pipeline's next step is rewriting them to
    parquet/ORC via the compaction op above)."""
    base = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def land_formats(p: str) -> None:
        base.filter(F.col("event_id") % 3 == 0).write.parquet(f"{p}/pq")
        base.filter(F.col("event_id") % 3 == 1).write.option("header", True).csv(f"{p}/csv")
        base.filter(F.col("event_id") % 3 == 2).write.json(f"{p}/js")

    land = materialize("landing", sf_dir, ("events",), land_formats)
    schema = base.schema
    pq = spark.read.schema(schema).parquet(f"{land}/pq")
    cs = spark.read.schema(schema).option("header", True).csv(f"{land}/csv")
    js = spark.read.schema(schema).json(f"{land}/js")
    return pq.unionByName(cs).unionByName(js)


@query(
    "schema_evolution_merge",
    """
    SELECT event_id, user_id,
           CASE WHEN event_id % 2 = 1 THEN value END AS value
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: schema evolution on read. Batch 1 lands WITHOUT the `value`
    column (an early producer version); batch 2 adds it. Reading the
    directory with `mergeSchema=true` unifies the schemas — old rows
    surface NULL for the new column instead of failing the read. This
    is the append-only ingest reality every lakehouse table lives
    with; the oracle reconstructs the same rows (evens pre-evolution,
    odds post) straight from the source table.

    Scale note: mergeSchema reconciles FOOTERS (one small read per
    file), not data; at 100 TB you still pin an explicit read schema
    in serving paths and reserve mergeSchema for discovery/backfill,
    because a million footer reads is itself a job. Each call writes
    both batches into its own fresh directory (``call_dir``)."""
    out = call_dir("events_evolving")
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    old = e.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id")
    new = e.filter(F.col("event_id") % 2 == 1).select("event_id", "user_id", "value")
    old.write.parquet(out)
    new.write.mode("append").parquet(out)
    return spark.read.option("mergeSchema", "true").parquet(out).select(
        "event_id", "user_id", "value"
    )


@query(
    "source_binaryfile_ingest",
    """
    WITH payload AS (
        SELECT lang,
               string_agg(text || chr(10), '' ORDER BY doc_id) AS content
        FROM documents GROUP BY lang
    )
    SELECT lang,
           CAST(strlen(content) AS BIGINT) AS n_bytes,
           sha256(content) AS sha_hex
    FROM payload
    ORDER BY lang
    """,
)
def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `binaryFile` source — Spark's opaque-blob ingest path (the
    front door for the multimodal columns in `operators/multimodal.py`:
    images/audio arrive as whole files, not rows). The fixture stage
    materializes one text shard per language (distributed
    `partitionBy` write, rows in doc_id order), then the query reads
    the files BACK as raw binary: (path, length, content bytes),
    extracting the partition key from the path and fingerprinting the
    bytes with sha2.

    The oracle rebuilds each file's exact bytes from the documents
    table (ordered string_agg + trailing newlines) and hashes them in
    DuckDB — so the differential proves the whole write→binary-read
    loop is LOSSLESS, not just that it runs. Scale notes: binaryFile
    loads each file as ONE row (content ≤ 2 GiB); shard accordingly
    at ingest — the per-lang partitioning here is that sharding; the
    hash/length projection is map-only (content never shuffles)."""
    docs = load_table(spark, sf_dir, "documents")
    path = materialize(
        "binfiles",
        sf_dir,
        ("documents",),
        lambda p: docs.select("lang", "doc_id", "text")
        .repartition(1)
        .sortWithinPartitions("lang", "doc_id")
        .select("lang", "text")
        .write.partitionBy("lang")
        .text(p),
    )
    files = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "false")
        .load(f"{path}/lang=*")
    )
    return (
        files.select(
            F.regexp_extract("path", r"lang=([^/]+)", 1).alias("lang"),
            F.col("length").cast("long").alias("n_bytes"),
            F.sha2("content", 256).alias("sha_hex"),
        )
        .orderBy("lang")
    )
