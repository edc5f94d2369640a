"""End-to-end training-corpus assembly: the composite pipeline the
individual LLM-data operators exist for, declared as one oracle-checked
query. Shape: quality gate → exact dedup (keep-first) → near-dup drop
(embedding cosine) → multimodal join (text ⋈ embedding) → features.

Scale story is the sum of its parts (each documented at its operator):
the quality gate is a pushed-down filter; exact dedup shuffles 32-byte
hashes; the near-dup drop list is label-blocked (LSH/IVF-blocked at
100 TB) and lands as a broadcast-able anti-join side; the embedding
join shuffles on the id unless one side broadcasts. One Catalyst plan,
end to end — no materialization between stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_refresher_spark.operators.similarity import (
    _SQL_UNIT,
    _dot,
    _sql_dot,
    _unit,
    blocked_pair_join,
)
from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import fan_out, load_table


@query(
    "pipeline_training_corpus",
    f"""
    WITH survivors AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY text
    ),
    quality AS (
      SELECT d.doc_id, d.lang, d.source, d.n_chars,
             CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_tokens
      FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
      WHERE d.n_chars BETWEEN 100 AND 10000
        AND d.lang IN ('en', 'es', 'de', 'fr', 'zh')
    ),
    u AS (SELECT vec_id, label, {_SQL_UNIT("embedding")} AS uv FROM embeddings),
    near_dups AS (
      SELECT DISTINCT b.vec_id AS drop_id
      FROM u a JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_sql_dot("a.uv", "b.uv")} >= 0.35
    )
    SELECT q.doc_id, q.lang, q.source, q.n_chars, q.n_tokens, e.label
    FROM quality q
    JOIN embeddings e ON q.doc_id = e.vec_id
    WHERE q.doc_id NOT IN (SELECT drop_id FROM near_dups)
    """,
)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-prep pipeline as ONE declarative plan:

    1. quality gate: length bounds + language whitelist (pushed into
       the parquet scan);
    2. exact dedup, keep-first survivor per identical text;
    3. embedding-cosine near-dup drop (anti-join against the blocked
       pair list — cf. dedup_embedding_cosine);
    4. join surviving docs to their embedding metadata;
    5. emit per-example features (token counts, provenance, label).
    """
    d = load_table(spark, sf_dir, "documents")
    survivors = d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    quality = (
        d.filter(
            F.col("n_chars").between(100, 10000)
            & F.col("lang").isin("en", "es", "de", "fr", "zh")
        )
        .join(survivors, "doc_id", "left_semi")
        .select(
            "doc_id", "lang", "source", "n_chars",
            F.size(F.split("text", " ")).alias("n_tokens"),
        )
    )
    e = load_table(spark, sf_dir, "embeddings")
    u = fan_out(e).select("vec_id", "label", _unit(F.col("embedding")).alias("uv"))
    near_dups = (
        blocked_pair_join(u, "label", "vec_id")
        .filter(_dot(F.col("a.uv"), F.col("b.uv")) >= 0.35)
        .select(F.col("b.vec_id").alias("drop_id"))
        .distinct()
    )
    return (
        quality.join(near_dups, quality.doc_id == near_dups.drop_id, "left_anti")
        .join(e.select("vec_id", "label"), quality.doc_id == F.col("vec_id"))
        .select("doc_id", "lang", "source", "n_chars", "n_tokens", "label")
    )


# ---------------------------------------------------------------------------
# Corpus composition: stratified sampling + deterministic training order
# ---------------------------------------------------------------------------

# Per-language sampling thresholds on the first md5 byte (hex): en is
# downsampled to ~16% (0x28/0xff), every other language kept at ~80%
# (0xcc/0xff) — the standard rebalance-the-dominant-language shape.
_LANG_KEEP_HEX = {"en": "28"}
_DEFAULT_KEEP_HEX = "cc"


@query(
    "sample_stratified_by_source",
    f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
          <= CASE lang WHEN 'en' THEN '{_LANG_KEEP_HEX["en"]}' ELSE '{_DEFAULT_KEEP_HEX}' END
    """,
)
def sample_stratified_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling with a per-stratum rate (rebalance
    languages: keep ~16% of dominant en, ~80% of the rest), driven by
    a key-hash threshold instead of an RNG — reproducible across
    reruns, partitionings, and engines, and it pushes down as a plain
    filter (no shuffle, no sort, no sampling operator).

    At 100 TB this is THE way to cut balanced subcorpora: rates are a
    tiny CASE lookup (broadcast semantics for free), and because the
    hash is on the stable document key, re-running after new ingests
    keeps previously-selected documents selected (append-only sample
    stability, which RNG sampling cannot give)."""
    d = load_table(spark, sf_dir, "documents")
    keep = F.when(F.col("lang") == "en", F.lit(_LANG_KEEP_HEX["en"])).otherwise(
        F.lit(_DEFAULT_KEEP_HEX)
    )
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) <= keep
    ).select("doc_id", "lang", "source")


@query(
    "corpus_shuffle_interleave",
    """
    WITH t AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS skey FROM documents
    ),
    s AS (
      SELECT doc_id, skey,
             CAST(instr('0123456789abcdef', substr(skey, 1, 1)) - 1 AS BIGINT) AS shard
      FROM t
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT)
             AS shard_pos
    FROM s
    """,
)
def corpus_shuffle_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle WITHOUT a global sort:
    documents are hashed into 16 shards (first md5 hex digit) and
    given a deterministic position inside their shard (rank by md5
    key). The training loader reads shard-by-shard (or round-robins
    shards for interleaving) — the same pseudo-random order every
    epoch, every run, every engine.

    Scale shape: a global ROW_NUMBER over 100 TB is a single-partition
    window (one executor sorts everything — never do it); per-shard
    windows run all shards in parallel, and shard count scales with
    the cluster. md5 gives engine-portable determinism."""
    d = load_table(spark, sf_dir, "documents")
    skey = F.md5(F.col("doc_id").cast("string"))
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        d.select("doc_id", skey.alias("skey"))
        .withColumn(
            "shard",
            (F.instr(F.lit("0123456789abcdef"), F.substring("skey", 1, 1)) - 1).cast(
                "bigint"
            ),
        )
        .withColumn("shard_pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "shard_pos")
    )


@query(
    "corpus_source_quota",
    """
    SELECT doc_id, source
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    WHERE rn <= 15
    """,
)
def corpus_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota enforcement: keep at most N documents per
    source, chosen by the stable md5 order — caps any one crawl/dump
    from dominating the corpus, and (same argument as the stratified
    sampler) re-runs after new ingests keep the same winners.

    One partitioned window, sources process in parallel; no global
    sort, no driver state. At 100 TB quotas come from a broadcast
    policy table instead of a constant — same plan."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .select("doc_id", "source")
    )


@query(
    "pack_sequences_greedy",
    """
    SELECT doc_id, shard,
           CAST(floor(CAST(cum_before AS DOUBLE) / 2048) AS BIGINT) AS bin_id
    FROM (
      SELECT doc_id, shard,
             COALESCE(SUM(n_tok) OVER (
               PARTITION BY shard ORDER BY skey, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               md5(CAST(doc_id AS VARCHAR)) AS skey,
               CAST(instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                    AS BIGINT) AS shard
        FROM documents
      )
    )
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: assign each document to
    a ~2048-token bin by contiguous fill along a deterministic
    pseudo-random order — documents with the same bin_id concatenate
    into one training sequence (padding only at bin boundaries, the
    throughput win packing exists for).

    Distributed shape: a global greedy packer is inherently
    sequential, so the corpus is split into 16 md5 shards and each
    shard packs independently (running token sum via one window per
    shard, bin = cum_tokens // budget) — the standard parallel
    approximation; bins never cross shards so shards never
    coordinate. One shuffle, parallelism = shard count."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    skey = F.md5(F.col("doc_id").cast("string"))
    base = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        skey.alias("skey"),
        (F.instr(F.lit("0123456789abcdef"), F.substring(skey, 1, 1)) - 1)
        .cast("bigint")
        .alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return base.select(
        "doc_id",
        "shard",
        F.floor(cum_before.cast("double") / 2048).cast("bigint").alias("bin_id"),
    )


@query(
    "select_corpus_token_budget",
    """
    SELECT doc_id, n_tok, quality
    FROM (
      SELECT doc_id, n_tok, quality,
             COALESCE(SUM(n_tok) OVER (
               ORDER BY quality DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS quality
        FROM documents
      )
    )
    WHERE cum_before < 10000
    """,
)
def select_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-capped corpus selection: rank documents by a quality
    score (here type/token ratio — any scorer plugs in) and keep the
    best until a token budget fills — how a fixed-compute training run
    decides WHAT to train on, not just what to drop.

    The global ordered cumulative sum runs two-level
    (`prefix.with_global_running`): quality-percentile buckets, a
    32-row exclusive-offset window, then windows PARTITIONED by
    bucket — no single-partition exchange anywhere, so the admission
    scan parallelizes at corpus grain. Every cum value is identical
    to the naive global window (bucket id is a function of quality
    alone, so ties stay in-bucket and bucket order refines the total
    order)."""
    from impala_refresher_spark.operators.prefix import with_global_running

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tok"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("quality"),
    )
    run = with_global_running(
        base,
        key="quality",
        ascending=False,
        tie_cols=["doc_id"],
        running={"cum_incl": F.col("n_tok")},
    )
    return (
        run.filter(F.col("cum_incl") - F.col("n_tok") < 10000)
        .select("doc_id", "n_tok", "quality")
    )


@query(
    "sample_weighted_reservoir",
    """
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             ROUND(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1.0)
                      / 4294967297.0) / n_chars, 9) AS es_key
      FROM documents
      WHERE n_chars > 0
    )
    SELECT lang, doc_id, n_chars, CAST(rank AS INT) AS rank
    FROM (
      SELECT lang, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY es_key DESC, doc_id) AS rank
      FROM keyed
    ) ranked
    WHERE rank <= 5
    ORDER BY lang, rank
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (Efraimidis-Spirakis A-Res): per
    language, pick 5 documents with probability proportional to
    length — the quality/size-weighted corpus-selection primitive.
    Each row's key is u^(1/w) compared in log space (ln(u)/w, same
    order, one transcendental instead of two); u is a deterministic
    uniform from the doc_id's md5 prefix, so the sample is rerun- AND
    engine-stable (the portable-sampling idiom of
    ``sample_hash_deterministic``, extended to weights).

    Plan shape: one scan computes the key, one window per group takes
    the top-k — a single shuffle on the group key. At 100 TB this IS
    the distributed weighted reservoir: no sequential state, and the
    same two-phase refinement as top-k (per-partition top-k, then
    global) applies if a group is hot. Output columns are integers/
    strings only, so the oracle compare never touches the float key.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "double"
        )
        + 1.0
    ) / 4294967297.0
    # ln() is the one transcendental in the key: Spark's Math.log and
    # DuckDB's libm ln are each ≤1-ulp but not guaranteed bit-identical,
    # so rank on the key ROUNDED to 9 decimals on both engines (ties
    # broken by doc_id) — a sub-ulp divergence can no longer reorder
    # the rank-5 boundary.
    keyed = d.select(
        "lang",
        "doc_id",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 9).alias("es_key"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("lang").orderBy(F.col("es_key").desc(), "doc_id")
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("lang", "doc_id", "n_chars", F.col("rank").cast("int").alias("rank"))
        .orderBy("lang", "rank")
    )


# ---------------------------------------------------------------------------
# Corpus pipeline v2 — quality battery + exact + substring-level dedup
# ---------------------------------------------------------------------------

def _pipeline_v2_oracle() -> str:
    from impala_refresher_spark.operators.text import (
        GOPHER_FEAT_SQL_CTES,
        GOPHER_PASS_SQL,
    )

    return f"""
    WITH {GOPHER_FEAT_SQL_CTES},
    keep_q AS (SELECT doc_id FROM feat WHERE {GOPHER_PASS_SQL}),
    exact_keep AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM documents GROUP BY text
    ),
    g AS (
      SELECT doc_id, array_to_string(w[i:i + 7], ' ') AS gram
      FROM t, UNNEST(range(1, len(w) - 6)) AS u(i)
    ),
    gmin AS (SELECT gram, MIN(doc_id) AS keeper FROM g GROUP BY gram),
    span_drop AS (
      SELECT DISTINCT g.doc_id
      FROM g JOIN gmin ON g.gram = gmin.gram AND g.doc_id > gmin.keeper
    )
    SELECT d.doc_id, d.lang, d.source,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
    FROM documents d
    JOIN keep_q USING (doc_id)
    JOIN exact_keep USING (doc_id)
    WHERE d.doc_id NOT IN (SELECT doc_id FROM span_drop)
    """


@query("pipeline_training_corpus_v2", _pipeline_v2_oracle())
def pipeline_training_corpus_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep v2 — the round-3 curation stack as ONE plan:

    1. Gopher repetition/quality gate (`gopher_gate_ids` — the
       aggregate form of the rules; see its docstring for why a gate
       must not filter on the map-only HOF battery);
    2. exact dedup, keep-first survivor per identical text;
    3. SUBSTRING-level dedup: drop any document repeating an 8-word
       span first seen in a lower-id document (`span_grams` posting
       lists — the Lee-et-al. span inventory applied as a filter);
    4. emit (doc_id, lang, source, n_tokens) for the survivors.

    Composition stays declarative: the keep-lists attach as left-semi
    joins on 8-byte doc ids and the span-drop as one left-anti join,
    so Catalyst fuses the whole stack — scan once, gate map-side,
    shuffle only for the two dedup aggregates. Versus v1
    (`pipeline_training_corpus`): model-quality rules replace the
    length/lang whitelist, and span-level dedup replaces the
    embedding near-dup stage (both have their place; v1+v2 docstrings
    cross-reference the trade: embedding recall vs exact-span
    precision)."""
    from impala_refresher_spark.operators.dedup import span_grams
    from impala_refresher_spark.operators.text import gopher_gate_ids

    d = load_table(spark, sf_dir, "documents")
    # Gate via the AGGREGATE form of the rules, not filter-on-HOF:
    # see gopher_gate_ids — a filter over the map-only battery gets
    # its CodegenFallback folds pushed into scan DataFilters and
    # re-evaluated per conjunct (measured 365× at sf0.1).
    keep_q = gopher_gate_ids(fan_out(d))
    exact_keep = d.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    # fan_out the span branch too (r10): without it the 8-gram explode
    # of the whole corpus ran on the scan's ONE input split — profiled
    # at 1.8 s on a single task while 31 cores idled (the other two
    # branches were already fanned via gopher_gate_ids).
    g = span_grams(fan_out(d))
    # Span-drop via ONE gram-partition window: min(doc_id) per gram
    # rides along every posting row, so the corpus-sized posting list
    # shuffles ONCE. (The aggregate-then-join-back form shuffles the
    # posting list twice — once into the per-gram min, once to join it
    # back — measured ~1.7x slower at sf0.1. Window state per gram is
    # one running min, so a hot gram degrades to sort-spill, never a
    # pair blowup.)
    # Shuffle-byte discipline (r10, guide §2.3): the exchange is keyed
    # on xxhash64(gram) — 8 bytes instead of the ~50-byte 8-word span
    # text, the same hashed-key rule the bigram branch and
    # dup_span_ngrams' docstring already commit to. The window still
    # partitions by (gh, gram), so a 64-bit collision cannot merge two
    # posting lists: HashPartitioning(gh) already satisfies the
    # window's clustering on (gh, gram), so no second exchange is
    # planned and only the in-partition sort sees the gram text.
    from pyspark.sql import Window

    gw = Window.partitionBy("gh", "gram")
    span_drop = (
        g.select("doc_id", "gram", F.xxhash64("gram").alias("gh"))
        .repartition("gh")
        .withColumn("keeper", F.min("doc_id").over(gw))
        .filter(F.col("doc_id") > F.col("keeper"))
        .select("doc_id")
        .distinct()
    )
    return (
        d.join(keep_q, "doc_id", "left_semi")
        .join(exact_keep, "doc_id", "left_semi")
        .join(span_drop, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            "source",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-weighted source mixture (multilingual-sampling rebalance)
# ---------------------------------------------------------------------------

_MIX_TARGET = 200  # total docs to select across sources


@query(
    "corpus_mixture_temperature",
    f"""
    WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
    d AS (SELECT ROUND(SUM(sqrt(CAST(cnt AS DOUBLE))), 6) AS denom FROM c),
    q AS (
      SELECT source,
             CAST(ROUND(ROUND(sqrt(CAST(cnt AS DOUBLE)) / denom, 6)
                        * {_MIX_TARGET}) AS BIGINT) AS quota
      FROM c CROSS JOIN d
    )
    SELECT doc_id, source, quota
    FROM (
      SELECT doc_id, documents.source, q.quota,
             ROW_NUMBER() OVER (PARTITION BY documents.source
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rn
      FROM documents JOIN q ON q.source = documents.source
    )
    WHERE rn <= quota
    """,
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-corpus
    sampling rule from mBERT/XLM-R/mT5: p_i proportional to n_i^alpha
    with alpha = 0.5): each source's share of the {_MIX_TARGET}-doc
    budget is sqrt(count)-proportional — upsampling the tail sources
    relative to raw frequency without letting the head dominate —
    then that quota is filled by the stable md5 order, so re-runs and
    incremental ingests keep the same winners.

    Plan: per-source counts are one partial-aggregable pass; the
    weight denominator is a 1-row aggregate broadcast back (the repo's
    scalar-exchange pattern — never a driver collect); admission is
    one window partitioned by source (parallel across sources, state
    = one source's run). At 100 TB the count pass is map-side-combined
    to |sources| rows and the fact-sized work is the single window.

    Float discipline: alpha = 0.5 makes the weight a sqrt —
    correctly-rounded IEEE on both engines, unlike pow/exp — and the
    sum-of-sqrts denominator is rounded to 6dp before the divide so
    accumulation order can't flip a quota; the weight is rounded again
    before scaling, and ROUND-half-up at integer grain agrees across
    engines."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("cnt"))
    denom = counts.agg(
        F.round(F.sum(F.sqrt(F.col("cnt").cast("double"))), 6).alias("denom")
    )
    quotas = counts.crossJoin(F.broadcast(denom)).select(
        "source",
        F.round(
            F.round(F.sqrt(F.col("cnt").cast("double")) / F.col("denom"), 6)
            * _MIX_TARGET
        )
        .cast("bigint")
        .alias("quota"),
    )
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(quotas), "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("quota"))
        .select("doc_id", "source", "quota")
    )
