"""Similarity search over embeddings (SURVEY.md §2C L3-L4, L7 + the
ANN scale path).

The embedding column is plain ``array<float>`` (dim 64). All vector
math is built-in higher-order functions (zip_with / aggregate) in
double precision with strict left-to-right folds, so the DuckDB
oracle — written as the identical fold via list_reduce — is
bitwise-comparable (DuckDB's own list_cosine_similarity computes in
float32 and would NOT match).

Scale story:
- Brute-force top-k against one query vector is a map + TakeOrdered:
  embarrassingly parallel, no shuffle. At 100 TB it is bounded by
  scan bandwidth — fine for one-off queries.
- The pairwise threshold join is quadratic: only for bounded segments
  (here: within label groups — the equi-key prunes the cross join).
- The LSH path (random-hyperplane signs → bucket join) is the
  sublinear ANN route: candidates share a bucket, cost is sum of
  bucket sizes squared. IVF (k-means cells + probe lists) is the
  alternative; same join shape with learned buckets.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import fan_out, load_table

_DIM = 64


def _dot(a, b):
    """Double-precision dot product, strict L→R fold (codegen)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine(a, b):
    """Cosine similarity; NULL for zero-norm inputs (no direction, no
    cosine). try_divide mirrors DuckDB, where x/0.0 yields NULL while
    ANSI Spark raises — a zero embedding (real in production: an
    empty-document encode) must degrade to NULL-ranked-last on BOTH
    engines, not crash one of them (found by the zero-vector
    hypothesis differential, the `time_weighted_avg_value` class)."""
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


# DuckDB twin of the same fold: list_reduce over the zipped product,
# in double, L→R — same IEEE op sequence as F.aggregate.
def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)"
    )


def _sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0, list_transform({a}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (acc, v) -> acc + v))"
    )


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)}))"


# ---------------------------------------------------------------------------
# L3 — brute-force exact top-k cosine against a fixed query vector
# ---------------------------------------------------------------------------

@query(
    "cosine_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           ROUND({_sql_cosine("embedding", "qv")}, 6) AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY {_sql_cosine("embedding", "qv")} DESC, vec_id ASC
    LIMIT 10
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 baseline: exact top-10 neighbours of vec_id 0. The query
    vector is broadcast (one row); the scan side never shuffles —
    TakeOrderedAndProject merges per-partition top-k at the driver."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sim = cosine(F.col("embedding"), F.col("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", sim.alias("raw_sim"))
        .orderBy(F.col("raw_sim").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.round("raw_sim", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# L4 — pairwise similarity join with threshold (within label segments)
# ---------------------------------------------------------------------------

def _unit(a):
    """Pre-normalized (unit-length) copy of a vector, in double.

    Zero-norm vectors normalize to all-NULL components (try_divide —
    see `cosine`): every downstream dot then folds to NULL, which both
    engines rank last / fail thresholds with, instead of ANSI Spark
    erroring where the DuckDB oracle quietly NULLs."""
    n = _norm(a)
    return F.transform(a, lambda x: F.try_divide(x.cast("double"), n))


_SQL_UNIT = (
    lambda a: f"list_transform({a}, x -> CAST(x AS DOUBLE) / {_sql_norm(a)})"
)

# Triangle-partition sizing for blocked all-pairs self-joins. Each block
# is cut into S salt cells; a block of width w becomes S*(S+1)/2 join
# cells of ~2w/S rows each, so no single task ever materializes a whole
# hot block. S is derived from the data (S ≈ w_max / rows-per-cell, the
# docstring sizing rule) instead of a static constant: total pair work
# is unchanged (it is the operator's output), only its distribution and
# peak memory — so any S produces identical rows, and sizing is purely
# a scheduling decision.
_PAIR_ROWS_PER_CELL = 4096  # target rows on each side of a triangle cell
_PAIR_SALTS_MIN = 2  # floor: keep ≥3 cells even on balanced blocks
_PAIR_SALTS_MAX = 64  # 64 salts = 2080 cells; beyond that, re-block instead


def _pair_salts_for(u: DataFrame, block_col: str) -> int:
    """Derive the triangle width S from the widest block's row count.

    This is a statistics exchange, not a data move: a partial-aggregable
    per-block count folded to one MAX row (same legitimacy class as the
    IVF/PQ centroid collects). At 100 TB the same number comes for free
    from table statistics or an existing `join_key_skew_profile` run;
    computing it inline costs one map-side-combined pass over the keys
    and guarantees the salt grid tracks the data, not a guess.
    """
    row = u.groupBy(block_col).count().agg(F.max("count").alias("w")).first()
    w = row["w"] or 0
    s = -(-w // _PAIR_ROWS_PER_CELL)  # ceil
    return max(_PAIR_SALTS_MIN, min(_PAIR_SALTS_MAX, s))


def blocked_pair_join(u: DataFrame, block_col: str, id_col: str) -> DataFrame:
    """All unordered within-block pairs (``a.id < b.id``) as a join of
    aliases ``a``/``b`` — the scale-safe form of
    ``a JOIN b ON a.block = b.block AND a.id < b.id``.

    Grid ("triangle") self-join: row with salt s replicates into the S
    cells {(min(s,t), max(s,t)) : t < S}; a pair with salts (sa, sb)
    is kept only in its canonical cell (min(sa,sb), max(sa,sb)) — a
    residual predicate on the hash join — so each pair is emitted
    exactly once and results are identical to the unguarded join. The
    equi key (block, pair_cell) bounds per-task width structurally —
    the equivalent of `_MAX_DF` for pair joins, without dropping pairs.

    S is derived from the widest block via `_pair_salts_for`. ``u`` is
    localCheckpoint'ed first (r10): the derivation otherwise has THREE
    consumers — the stats job and both self-join aliases — each
    re-running the upstream normalize/assign pipeline and each
    re-planned by AQE with the full expression tree. The checkpoint is
    exactly the relation the pair join must shuffle anyway (id, block,
    unit vector — no wider than the join's own exchanges), so one
    write replaces two recomputes.
    """
    u = u.localCheckpoint()
    s = _pair_salts_for(u, block_col)
    s_col = F.pmod(F.xxhash64(F.col(id_col)), F.lit(s)).cast("int")
    cells = F.array(
        *[
            F.least(F.col("_salt"), F.lit(t)) * s
            + F.greatest(F.col("_salt"), F.lit(t))
            for t in range(s)
        ]
    )
    rep = u.withColumn("_salt", s_col).withColumn("pair_cell", F.explode(cells))
    a, b = rep.alias("a"), rep.alias("b")
    canonical = (
        F.least(F.col("a._salt"), F.col("b._salt")) * s
        + F.greatest(F.col("a._salt"), F.col("b._salt"))
    )
    return a.join(
        b,
        (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        & (F.col("a.pair_cell") == F.col("b.pair_cell"))
        & (F.col("a.pair_cell") == canonical)
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )


@query(
    "cosine_similarity_join",
    f"""
    WITH u AS (SELECT vec_id, label, {_SQL_UNIT("embedding")} AS uv FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_sql_dot("a.uv", "b.uv")}, 6) AS cos_sim
    FROM u a
    JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_sql_dot("a.uv", "b.uv")} >= 0.35
    """,
)
def cosine_similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: threshold similarity join, pruned by the label equi-key (a
    blocking key: same plan as any blocked entity-resolution join).
    Without a blocking key this is corpus² — at scale you either block
    (this), LSH-bucket (below), or pre-cluster (IVF).

    Vectors are unit-normalized BEFORE the join: n norm computations
    instead of n² (cosine of units = plain dot). The oracle performs
    the identical normalize-then-dot sequence so doubles still match.

    Hot-block guard: the pair join goes through blocked_pair_join's
    triangle partitioning, so one hot label can never pin a single
    task to a near-cartesian — identical output, bounded task width.
    """
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    u = e.select("vec_id", "label", _unit(F.col("embedding")).alias("uv"))
    sim = _dot(F.col("a.uv"), F.col("b.uv"))
    return (
        blocked_pair_join(u, "label", "vec_id")
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("raw_sim"),
        )
        .filter(F.col("raw_sim") >= 0.35)
        .select("vec_a", "vec_b", F.round("raw_sim", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# ANN: random-hyperplane LSH buckets (scale path; rows-only check)
# ---------------------------------------------------------------------------

def _hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    rng = random.Random(42)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def _ann_lsh_oracle() -> str:
    """Generated DuckDB twin of `ann_lsh_topk`. Possible because the
    whole pipeline is deterministic double arithmetic over SHARED
    literals: the hyperplanes come from one seeded generator, embedded
    as list literals here and as F.lit columns in the Spark plan (repr
    round-trips doubles exactly), and every dot product is the same
    strict L→R fold both engines execute bit-identically (`_sql_dot`).
    Sign bits, the weakest-plane argmin, and the XOR probe are then
    integer ops on identical doubles, so bucket membership — not just
    the re-ranked output — is oracle-checked."""
    planes = _hyperplanes(8, _DIM)
    plane_rows = ",\n             ".join(
        f"({i}, [{', '.join(repr(v) for v in p)}])" for i, p in enumerate(planes)
    )
    cos = _sql_cosine("c.embedding", "c.qv")
    return f"""
    WITH planes(i, pv) AS (VALUES {plane_rows}),
    marg AS (
      SELECT e.vec_id, p.i, {_sql_dot("e.embedding", "p.pv")} AS m
      FROM embeddings e CROSS JOIN planes p
    ),
    sig AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN m >= 0 THEN 1 << i ELSE 0 END) AS BIGINT) AS bucket,
             list(m ORDER BY i) AS margins
      FROM marg GROUP BY vec_id
    ),
    probes AS (
      SELECT vec_id AS q_id,
             unnest([bucket,
                     xor(bucket, CAST(1 AS BIGINT) <<
                         (list_position(list_transform(margins, x -> abs(x)),
                                        list_min(list_transform(margins, x -> abs(x)))) - 1))])
               AS q_bucket
      FROM sig WHERE vec_id < 5
    ),
    cand AS (
      SELECT p.q_id, s.vec_id, ce.embedding, qe.embedding AS qv
      FROM probes p
      JOIN sig s ON s.bucket = p.q_bucket AND s.vec_id <> p.q_id
      JOIN embeddings ce ON ce.vec_id = s.vec_id
      JOIN embeddings qe ON qe.vec_id = p.q_id
    ),
    ranked AS (
      SELECT q_id, vec_id, ROUND({cos}, 6) AS cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY ROUND({cos}, 6) DESC, vec_id ASC) AS INTEGER) AS rk
      FROM cand c
    )
    SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 10
    """


@query("ann_lsh_topk", _ann_lsh_oracle())
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH (8 planes → 256 buckets,
    2 bucket probes per query via sign-flip of the weakest plane).

    Plan shape: signature = 8 sign bits from fixed hyperplanes (pure
    codegen arithmetic — the planes are literals, no model state);
    candidates = equi-join on bucket id, with each query probing TWO
    buckets — its own, plus the bucket reached by flipping its weakest
    plane (the plane with the smallest |margin|, i.e. the sign most
    likely to disagree for a true neighbour); exact cosine re-rank of
    candidates; top-10 per query. RECALL is probabilistic by design
    (asserted vs brute force in tests) — but the COMPUTATION is
    deterministic shared-literal double arithmetic, so since r04 the
    full pipeline is SQL-oracled (see `_ann_lsh_oracle`).
    """
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    planes = _hyperplanes(8, _DIM)

    def margins_of(emb):
        return F.array(
            *[_dot(emb, F.array(*[F.lit(v) for v in p])) for p in planes]
        )

    def bucket_of(margins):
        bits = [
            F.when(margins[i] >= 0, 1 << i).otherwise(0) for i in range(len(planes))
        ]
        return sum(bits[1:], bits[0])

    sigs = e.select(
        "vec_id", "embedding", bucket_of(margins_of(F.col("embedding"))).alias("bucket")
    )
    # queries: the first 5 vectors; multi-probe = own bucket + the
    # weakest plane's sign flip (bucket XOR (1 << argmin |margin|))
    abs_margins = F.transform(F.col("margins"), lambda m: F.abs(m))
    # 1-based position of the weakest plane; flip masks indexed 1-based
    weakest_pos = F.array_position(abs_margins, F.array_min(abs_margins))
    flip_mask = F.array(*[F.lit(1 << i) for i in range(len(planes))])[
        (weakest_pos - 1).cast("int")
    ]
    queries = (
        e.filter(F.col("vec_id") < 5)
        .select("vec_id", "embedding", margins_of(F.col("embedding")).alias("margins"))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            F.explode(
                F.array(
                    bucket_of(F.col("margins")),
                    bucket_of(F.col("margins")).bitwiseXOR(flip_mask),
                )
            ).alias("q_bucket"),
        )
    )
    cands = sigs.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
    )
    sim = cosine(F.col("embedding"), F.col("qv"))
    from pyspark.sql import Window as W

    ranked = cands.select(
        "q_id", "vec_id", F.round(sim, 6).alias("cos_sim")
    ).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        ),
    )
    return ranked.filter(F.col("rk") <= 10).select("q_id", "vec_id", "cos_sim", "rk")


# ---------------------------------------------------------------------------
# ANN: IVF (inverted-file) cells — the learned-bucket alternative to LSH
# ---------------------------------------------------------------------------

_IVF_CELLS = 16
_IVF_PROBES = 2


def _ann_ivf_oracle() -> str:
    """Generated DuckDB twin of `ann_ivf_topk`. The centroid set is a
    deterministic data SAMPLE (every 61st vector, first 16), so the
    oracle derives the identical index from the table itself — no
    literals needed. Cell assignment dots are fold-exact: the Spark
    side's Arrow UDF accumulates dimensions SEQUENTIALLY in float64
    (see `cell_ranking`), the same IEEE op sequence as this L→R
    list_reduce, so cell membership — the index structure itself —
    is oracle-checked, not just the re-ranked output."""
    return f"""
    WITH cents AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
             embedding AS cent
      FROM (SELECT vec_id, embedding FROM embeddings
            WHERE vec_id % 61 = 0 ORDER BY vec_id LIMIT {_IVF_CELLS})
    ),
    dots AS (
      SELECT e.vec_id, c.cid, {_sql_dot("e.embedding", "c.cent")} AS m
      FROM embeddings e CROSS JOIN cents c
    ),
    cell_rank AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY m DESC, cid ASC) AS rn
      FROM dots
    ),
    sig AS (SELECT vec_id, cid AS cell FROM cell_rank WHERE rn = 1),
    probes AS (
      SELECT vec_id AS q_id, cid AS probe_cell
      FROM cell_rank WHERE vec_id < 5 AND rn <= {_IVF_PROBES}
    ),
    cand AS (
      SELECT p.q_id, s.vec_id, ce.embedding, qe.embedding AS qv
      FROM probes p
      JOIN sig s ON s.cell = p.probe_cell AND s.vec_id <> p.q_id
      JOIN embeddings ce ON ce.vec_id = s.vec_id
      JOIN embeddings qe ON qe.vec_id = p.q_id
    ),
    ranked AS (
      SELECT q_id, vec_id, ROUND({_sql_cosine("c.embedding", "c.qv")}, 6) AS cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                  ORDER BY ROUND({_sql_cosine("c.embedding", "c.qv")}, 6) DESC,
                           vec_id ASC) AS INTEGER) AS rk
      FROM cand c
    )
    SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 10
    """


@query("ann_ivf_topk", _ann_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via IVF: partition vectors into cells around coarse
    centroids; queries probe only the nearest _IVF_PROBES cells and
    exact-rerank the candidates.

    The centroid set is a deterministic data sample (every 61st
    vector, first 16) standing in for a k-means coarse quantizer —
    the index-build stage that at scale runs as its own job (sampled
    kmeans over a fraction of the corpus) and broadcasts ~kB of
    centroids. Cell assignment is argmax-dot against the broadcast
    centroids: an Arrow-batched pandas UDF, vectorized across the
    batch but accumulating DIMENSIONS sequentially in float64 — the
    same IEEE op sequence as the repo's L→R dot fold, which is what
    lets the DuckDB oracle (`_ann_ivf_oracle`) replay cell membership
    bit-for-bit (a BLAS matmul's blocked summation would diverge in
    the last ulp and flip near-tie cells). The probe join is an
    equi-join on cell id, so candidate cost is the probed cells'
    sizes — sublinear in the corpus, same shape as the LSH plan above
    but with learned, data-shaped buckets (better recall per
    candidate at equal probe budget). RECALL stays probabilistic
    (tested vs brute force); the computation is SQL-oracled since r04.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cent_rows = (
        e.filter(F.col("vec_id") % 61 == 0)
        .orderBy("vec_id")
        .limit(_IVF_CELLS)
        .select("embedding")
        .collect()
    )
    cents = np.array([[float(x) for x in r.embedding] for r in cent_rows])

    # Cell ranking per Arrow batch against the broadcast centroid
    # matrix. Vectorized over ROWS; the dimension loop pins the
    # accumulation order to the strict L→R fold (init 0.0) so every
    # dot is bit-identical to _dot/_sql_dot.
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cell_ranking(emb: pd.Series) -> pd.Series:
        m = np.vstack(emb.to_numpy()).astype("float64")  # (batch, dim)
        dots = np.zeros((m.shape[0], cents.shape[0]))
        for d in range(m.shape[1]):
            dots += m[:, d, None] * cents[None, :, d]
        order = np.argsort(-dots, axis=1, kind="stable")
        return pd.Series(list(order[:, :_IVF_PROBES].astype("int32")))

    ef = fan_out(e)
    sigs = ef.select(
        "vec_id", "embedding", cell_ranking(F.col("embedding"))[0].alias("cell")
    )
    queries = (
        ef.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qv"),
            F.explode(
                F.slice(cell_ranking(F.col("embedding")), 1, _IVF_PROBES)
            ).alias("probe_cell"),
        )
    )
    cands = sigs.join(
        F.broadcast(queries),
        (F.col("cell") == F.col("probe_cell")) & (F.col("vec_id") != F.col("q_id")),
    )
    from pyspark.sql import Window as W

    sim = cosine(F.col("embedding"), F.col("qv"))
    ranked = cands.select("q_id", "vec_id", F.round(sim, 6).alias("cos_sim")).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        ),
    )
    return ranked.filter(F.col("rk") <= 10).select("q_id", "vec_id", "cos_sim", "rk")


# ---------------------------------------------------------------------------
# Distributed vector aggregation: per-label centroids (the IVF/k-means
# training step as a first-class operator)
# ---------------------------------------------------------------------------

@query(
    "label_centroids",
    """
    SELECT label,
           CAST(pos AS INTEGER) AS dim,
           ROUND(AVG(val), 6) AS centroid_val,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM (
      SELECT label,
             UNNEST(range(1, len(embedding) + 1)) AS pos,
             UNNEST(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise mean of the embedding vectors — the
    distributed centroid computation behind k-means/IVF index training
    and class-prototype analysis.

    Plan: posexplode to (label, dim, val) rows, then ONE partial-
    aggregable hash aggregate on (label, dim). The explode widens rows
    64× but every value is needed exactly once and the aggregate
    combines map-side, so the shuffle carries only
    #labels × dim partials — at 100 TB this is the shape that works,
    vs. collecting vectors per label (OOM) or driver-side averaging.
    DuckDB's UNNEST WITH ORDINALITY is 1-based; posexplode +1 aligns.
    """
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos0", "val")
    )
    return (
        ex.groupBy("label", (F.col("pos0") + 1).cast("int").alias("dim"))
        .agg(
            F.round(F.avg(F.col("val").cast("double")), 6).alias("centroid_val"),
            F.count("*").alias("n_vectors"),
        )
    )


# ---------------------------------------------------------------------------
# L7 — multimodal join: documents ⋈ embeddings (text + vector + metadata)
# ---------------------------------------------------------------------------

@query(
    "multimodal_join",
    f"""
    SELECT d.doc_id, d.lang, d.n_chars, e.label,
           ROUND({_sql_norm("e.embedding")}, 6) AS emb_norm
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.n_chars > 150
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7: one row carrying text metadata + a vector + computed vector
    stats — the canonical multimodal training-example assembly join
    (text table ⋈ embedding table on id)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 150)
    e = load_table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id", "lang", "n_chars", "label", F.round(_norm(F.col("embedding")), 6).alias("emb_norm")
    )


# ---------------------------------------------------------------------------
# ANN: product quantization (PQ) — compressed-domain scan + ADC
# ---------------------------------------------------------------------------

_PQ_M = 8          # subspaces (64-dim -> 8 sub-vectors of 8 dims)
_PQ_K = 16         # centroids per subspace codebook
_PQ_CAND = 64      # ADC candidates kept per query before exact rerank


def _pq_oracle() -> str:
    """Generated DuckDB twin of `ann_pq_topk`. Portable because every
    stage is shared deterministic arithmetic: the codebook sample is
    md5-hash-ordered (identical hex both engines), the subspace
    distances and LUT dots accumulate dimensions sequentially (the
    Spark UDF pins its loops to the L→R fold order), and the ADC score
    folds the 8 per-subspace LUT values in subspace order with init
    0.0 — so codes, candidates, and the reranked output all match
    bit-for-bit."""
    d_sub = _DIM // _PQ_M
    sq = "p -> (p[1] - p[2]) * (p[1] - p[2])"
    prod = "p -> p[1] * p[2]"
    fold = lambda items, lam: (
        f"list_reduce(list_prepend(0.0, list_transform({items}, {lam})), "
        f"(acc, x) -> acc + x)"
    )
    return f"""
    WITH ms AS (SELECT CAST(unnest(range({_PQ_M})) AS INTEGER) AS m),
    sample AS (
      SELECT embedding,
             CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id + 2 AS VARCHAR)), vec_id) - 1
                  AS INTEGER) AS k
      FROM embeddings
      QUALIFY k < {_PQ_K}
    ),
    books AS (
      SELECT ms.m, s.k,
             list_transform(list_slice(s.embedding, ms.m * {d_sub} + 1,
                                       ms.m * {d_sub} + {d_sub}),
                            x -> CAST(x AS DOUBLE)) AS bc
      FROM sample s CROSS JOIN ms
    ),
    vec_sub AS (
      SELECT vec_id, ms.m,
             list_transform(list_slice(embedding, ms.m * {d_sub} + 1,
                                       ms.m * {d_sub} + {d_sub}),
                            x -> CAST(x AS DOUBLE)) AS xs
      FROM embeddings CROSS JOIN ms
    ),
    codes AS (
      SELECT vec_id, m, k AS code FROM (
        SELECT v.vec_id, v.m, b.k,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.m
                                  ORDER BY {fold("list_zip(v.xs, b.bc)", sq)} ASC,
                                           b.k ASC) AS rn
        FROM vec_sub v JOIN books b ON v.m = b.m
      ) WHERE rn = 1
    ),
    lut AS (
      SELECT q.vec_id AS q_id, q.m, b.k,
             {fold("list_zip(q.xs, b.bc)", prod)} AS val
      FROM vec_sub q JOIN books b ON q.m = b.m
      WHERE q.vec_id < 5
    ),
    adc AS (
      SELECT l.q_id, c.vec_id,
             list_reduce(list_prepend(0.0, list(l.val ORDER BY l.m)),
                         (acc, x) -> acc + x) AS adc_score
      FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.k
      WHERE c.vec_id <> l.q_id
      GROUP BY l.q_id, c.vec_id
    ),
    cand AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY adc_score DESC, vec_id ASC) AS crk
        FROM adc
      ) WHERE crk <= {_PQ_CAND}
    ),
    ranked AS (
      SELECT c.q_id, c.vec_id,
             ROUND({_sql_cosine("ce.embedding", "qe.embedding")}, 6) AS cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY c.q_id
                  ORDER BY ROUND({_sql_cosine("ce.embedding", "qe.embedding")}, 6) DESC,
                           c.vec_id ASC) AS INTEGER) AS rk
      FROM cand c
      JOIN embeddings ce ON ce.vec_id = c.vec_id
      JOIN embeddings qe ON qe.vec_id = c.q_id
    )
    SELECT q_id, vec_id, cos_sim, rk FROM ranked WHERE rk <= 10
    """


@query("ann_pq_topk", _pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via product quantization: each vector is compressed
    to _PQ_M codebook indices (8 bytes vs 256 — 32x), queries scan the
    CODES with an asymmetric-distance lookup table, and only the ADC
    top-_PQ_CAND candidates get an exact rerank.

    The piece PQ adds over LSH/IVF above is the compressed-domain
    scan: at 100 TB the float corpus doesn't fit hot storage, but the
    8-byte codes (3 TB) do — the ADC pass reads ONLY codes, and the
    full vectors are fetched for rerank candidates alone (a semi-join
    against the corpus, thousands of rows not billions). Compose with
    IVF cells (IVF-PQ) to also prune which codes are scanned.

    Stages, each the at-scale shape:
    - train: per-subspace codebooks from a deterministic corpus sample
      (stand-in for sampled k-means, like IVF's centroid build) —
      broadcast-sized model state (_PQ_M x _PQ_K x 8 floats).
    - encode: Arrow-batched per-subspace argmin distance — map-only,
      with the dimension loop pinned to L→R fold order (see comment).
    - ADC: lut[m][k] = <q_sub m, codebook[m][k]> per query; the
      approximate dot is a pure JVM fold over the code array
      (zip_with + element_at into the broadcast LUT) — no Python, no
      shuffle, scan-bound on 8-byte rows.
    - rerank: exact cosine on candidates only; top-10 per query.

    RECALL is probabilistic by design (tested vs brute force); the
    computation is fully SQL-oracled since r04 (`_pq_oracle`): the
    md5-ordered sample, fold-exact codes, LUT, ADC scores, and rerank
    are all shared deterministic arithmetic.
    """
    e = load_table(spark, sf_dir, "embeddings")
    d_sub = _DIM // _PQ_M
    # Codebooks from a deterministic pseudo-random sample of exactly
    # _PQ_K vectors (hash-ordered limit, corpus-size independent — a
    # stride sample would collapse to <K centroids on small corpora).
    # md5 ordering, not xxhash64: identical hex on both engines lets
    # the oracle rebuild the SAME codebook from the table itself.
    sample = (
        e.orderBy(F.md5((F.col("vec_id") + 2).cast("string")), "vec_id")
        .limit(_PQ_K)
        .select("embedding")
        .collect()
    )
    # reshape(-1, ...): a corpus smaller than _PQ_K yields fewer sample
    # rows — the codebook shrinks with it (the oracle's QUALIFY k < K
    # does the same) instead of crashing the fixed-K reshape. A fully
    # EMPTY corpus can't train any centroid (the shrink contract only
    # covers 0 < n < K): short-circuit to an empty result rather than
    # let a zero-width codebook reach np.argmin in encode batches.
    if not sample:
        return spark.createDataFrame(
            [], "q_id long, vec_id long, cos_sim double, rk int"
        )
    books = np.array(
        [[float(x) for x in r.embedding] for r in sample]
    ).reshape(-1, _PQ_M, d_sub).transpose(1, 0, 2)  # (m, k<=_PQ_K, d_sub)

    # Arrow-batched encode, vectorized over rows; the explicit
    # (x-c)^2 dimension loop pins accumulation to the strict L→R
    # fold (init 0.0) so codes match the oracle bit-for-bit — the
    # -2<x,c>+||c||^2 BLAS shortcut is monotone-equivalent in exact
    # arithmetic but flips near-tie argmins in floats.
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(emb: pd.Series) -> pd.Series:
        mat = np.vstack(emb.to_numpy()).astype("float64").reshape(-1, _PQ_M, d_sub)
        codes = np.empty((mat.shape[0], _PQ_M), dtype="int32")
        for m in range(_PQ_M):
            d2 = np.zeros((mat.shape[0], books.shape[1]))
            for d in range(d_sub):
                diff = mat[:, m, d, None] - books[m, :, d][None, :]
                d2 += diff * diff
            codes[:, m] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    ef = fan_out(e)
    codes = ef.select("vec_id", encode(F.col("embedding")).alias("codes"))

    # Queries (first 5 vectors) with their ADC lookup tables as literal
    # nested arrays: lut[m][k] = <q_sub m, codebook[m][k]>.
    q_rows = e.filter(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    q_luts = []
    for r in q_rows:
        q = np.array([float(x) for x in r.embedding]).reshape(_PQ_M, d_sub)
        # sequential dimension loop = the oracle's L→R dot fold
        lut = np.zeros((_PQ_M, books.shape[1]))
        for d in range(d_sub):
            lut += q[:, d, None] * books[:, :, d]
        q_luts.append((r.vec_id, [[float(v) for v in row] for row in lut]))
    queries = spark.createDataFrame(
        q_luts, "q_id long, lut array<array<double>>"
    )

    # ADC score = sum over subspaces of lut[m][code[m]] — a JVM-side
    # fold over the zipped (code, lut-row) pairs; codes never leave
    # compressed form.
    adc = F.aggregate(
        F.zip_with("codes", "lut", lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    from pyspark.sql import Window as W

    cand = (
        codes.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", adc.alias("adc_score"))
        .withColumn(
            "crk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(
                    F.col("adc_score").desc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("crk") <= _PQ_CAND)
        .select("q_id", "vec_id")
    )
    # Exact rerank: fetch full vectors for candidates only.
    qv = queries.select("q_id", F.lit(None).alias("drop")).drop("drop").join(
        e.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")), "q_id"
    )
    ranked = (
        cand.join(e, "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select("q_id", "vec_id", F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"))
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
            ),
        )
    )
    return ranked.filter(F.col("rk") <= 10).select("q_id", "vec_id", "cos_sim", "rk")


# ---------------------------------------------------------------------------
# ANN index-quality scoreboard: recall@10 of every index vs exact
# ---------------------------------------------------------------------------

_RECALL_K = 10


def _ann_recall_oracle() -> str:
    """Composes the three generated index oracles (each a complete
    WITH..SELECT, nested as CTE subqueries) against one brute-force
    exact top-{k} CTE — possible precisely BECAUSE all three index
    pipelines are already fully SQL-oracled (r04), so the recall
    arithmetic on top is plain integer counting."""
    cos = _sql_cosine("e.embedding", "q.qv")
    return f"""
    WITH lsh AS ( {_ann_lsh_oracle()} ),
    ivf AS ( {_ann_ivf_oracle()} ),
    pq AS ( {_pq_oracle()} ),
    ann AS (
      SELECT 'lsh' AS index_name, q_id, vec_id FROM lsh
      UNION ALL SELECT 'ivf', q_id, vec_id FROM ivf
      UNION ALL SELECT 'pq', q_id, vec_id FROM pq
    ),
    q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    pairs AS (
      SELECT q.q_id, e.vec_id, ROUND({cos}, 6) AS cos_sim
      FROM embeddings e JOIN q ON e.vec_id <> q.q_id
    ),
    exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, vec_id ASC) AS rk
        FROM pairs
      ) r WHERE rk <= {_RECALL_K}
    ),
    hits AS (
      SELECT a.index_name, a.q_id, COUNT(*) AS n
      FROM ann a JOIN exact x ON x.q_id = a.q_id AND x.vec_id = a.vec_id
      GROUP BY a.index_name, a.q_id
    )
    SELECT g.index_name, g.q_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(h.n, 0) / {_RECALL_K}.0, 4) AS recall_at_k
    FROM (SELECT i.index_name, q.q_id
          FROM (VALUES ('lsh'), ('ivf'), ('pq')) i(index_name)
          CROSS JOIN q) g
    LEFT JOIN hits h ON h.index_name = g.index_name AND h.q_id = g.q_id
    """


@query("ann_recall_at_k", _ann_recall_oracle())
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality scoreboard: recall@{k} of EVERY approximate
    index in this package (LSH multi-probe, IVF 2-probe, PQ-ADC) per
    query vector, against the brute-force exact top-{k} — the
    regression gate a production vector pipeline runs before swapping
    an index config, promoted from a pytest-only contract to a
    driver-oracled query so the measurement ITSELF is cross-engine
    verified.

    Scale shape: the exact side is |Q| x N with the sampled query set
    broadcast — ground-truth eval is always run on a bounded query
    SAMPLE at scale (here the shared vec_id < 5 set every index
    already uses), never all-pairs; each index branch reuses its own
    (already plan-audited) pipeline, and the recall join touches only
    3 x |Q| x k candidate rows. Honest fixture note: the synthetic
    embeddings are near-isotropic, so absolute recall is LOW
    (~0-0.2) — exactly what unstructured vectors + 256 LSH buckets /
    16 IVF cells should score; the op's value is the measurement
    machinery, which the three-engine-oracle composition proves
    correct.

    No reference analog (refresh orchestration only,
    /root/reference/impala-refresher.go:46-181)."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    pairs = e.join(F.broadcast(q), e.vec_id != q.q_id).select(
        "q_id",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("qv")), 6).alias("cos_sim"),
    )
    from pyspark.sql import Window as W

    exact = (
        pairs.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("q_id").orderBy(
                    F.col("cos_sim").desc(), F.col("vec_id").asc()
                )
            ),
        )
        .filter(F.col("rk") <= _RECALL_K)
        .select("q_id", "vec_id")
    )
    branches = [
        ("lsh", ann_lsh_topk),
        ("ivf", ann_ivf_topk),
        ("pq", ann_pq_topk),
    ]
    # r09 note: overlapping the four branches via thread-materialized
    # checkpoints (the dedup scoreboard's winning pattern) was A/B'd
    # here and REJECTED — warm same-session min 2.61 s sequential vs
    # 2.96 s threaded at sf0.1. These branches are dominated by their
    # eager centroid/codebook collects and |Q|·k-sized tails, so the
    # overlap buys less than four extra checkpoint jobs cost; the
    # branches compose lazily into one DAG whose independent stages
    # AQE already runs concurrently.
    ann = None
    for name, fn in branches:
        b = fn(spark, sf_dir).select(
            F.lit(name).alias("index_name"), "q_id", "vec_id"
        )
        ann = b if ann is None else ann.unionAll(b)
    hits = (
        ann.join(exact, ["q_id", "vec_id"])
        .groupBy("index_name", "q_id")
        .agg(F.count("*").alias("n"))
    )
    grid = q.select("q_id").crossJoin(
        spark.createDataFrame([("lsh",), ("ivf",), ("pq",)], "index_name string")
    )
    return grid.join(hits, ["index_name", "q_id"], "left").select(
        "index_name",
        "q_id",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_hits"),
        F.round(F.coalesce(F.col("n"), F.lit(0)) / _RECALL_K, 4).alias(
            "recall_at_k"
        ),
    )


# ---------------------------------------------------------------------------
# Iterative ML on DataFrames: k-means refinement (2 Lloyd iterations)
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_ITERS = 2


def _km_assign_sql(vec_tbl: str, cent_tbl: str) -> str:
    """DuckDB: argmin squared-distance assignment (ties → smallest cid)."""
    return f"""
      SELECT vec_id, cid FROM (
        SELECT v.vec_id, c.cid,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_reduce(list_prepend(0.0,
                           list_transform(list_zip(v.emb, c.cent),
                             p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2]))),
                           (acc, x) -> acc + x) ASC,
                          c.cid ASC) AS rn
        FROM {vec_tbl} v CROSS JOIN {cent_tbl} c
      ) WHERE rn = 1
    """


def _km_means_sql(assign_tbl: str, vec_tbl: str) -> str:
    """DuckDB: per-cluster elementwise mean, rounded to 6dp (the same
    stabilization the Spark side applies between iterations)."""
    return f"""
      SELECT cid, list(rv ORDER BY pos) AS cent FROM (
        SELECT a.cid, pos, ROUND(AVG(val), 6) AS rv FROM {assign_tbl} a
        JOIN (SELECT vec_id,
                     UNNEST(range(1, len(emb) + 1)) AS pos,
                     UNNEST(list_transform(emb, x -> CAST(x AS DOUBLE))) AS val
              FROM {vec_tbl}) u ON a.vec_id = u.vec_id
        GROUP BY a.cid, pos
      ) GROUP BY cid
    """


def _kmeans_oracle() -> str:
    return f"""
    WITH v AS (SELECT vec_id, embedding AS emb FROM embeddings),
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS cid,
             list_transform(emb, x -> CAST(x AS DOUBLE)) AS cent
      FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_KM_K}
    ),
    a1 AS ({_km_assign_sql("v", "c0")}),
    c1 AS ({_km_means_sql("a1", "v")}),
    a2 AS ({_km_assign_sql("v", "c1")})
    SELECT vec_id, cid AS cluster FROM a2
    """


@query("kmeans_refine_assignments", _kmeans_oracle())
def kmeans_refine_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative ML as a dataflow: {_KM_ITERS} Lloyd iterations of
    k-means over the embeddings — broadcast the K centroids, argmin-
    assign every vector (map-only), recompute centroids as a partial-
    aggregable per-(cluster, dim) mean, repeat. The oracle unrolls the
    SAME two iterations in SQL, so assignments are checked exactly.

    Determinism across engines: init is an md5-ordered sample;
    distance is the identical L→R double fold both sides; recomputed
    centroids are rounded to 6dp before the next assignment pass
    (kills accumulation-order ulp noise); argmin ties break on cid.

    Scale shape per iteration: centroids are ~KB (collect+broadcast is
    the legitimate IVF-style index exchange, like similarity.py's IVF
    build); assignment is scan+argmin with NO shuffle; the mean is one
    hash aggregate of (cluster, dim) partials. 100 TB k-means runs
    exactly this loop — sampled init, a few iterations, rounds
    bounded, every stage linear."""
    e = load_table(spark, sf_dir, "embeddings")
    v = e.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb"))
    init = (
        v.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_KM_K)
        .select("emb")
        .collect()
    )
    cents = [[float(x) for x in r.emb] for r in init]

    def assign(cent_lists):
        """argmin ||x-c||² over broadcast literal centroids (ties → cid)."""
        dists = [
            F.aggregate(
                F.zip_with(
                    "emb",
                    F.array(*[F.lit(c) for c in cent]),
                    lambda x, c: (x - c) * (x - c),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for cent in cent_lists
        ]
        best = F.array_position(
            F.array(*dists), F.array_min(F.array(*dists))
        ) - 1  # first match = smallest cid on ties
        return v.select("vec_id", "emb", best.cast("bigint").alias("cid"))

    assigned = assign(cents)
    for _ in range(_KM_ITERS - 1):
        means = (
            assigned.select("cid", F.posexplode("emb").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("val"), 6).alias("rv"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "rv"))).alias("pr"))
            .select("cid", F.transform("pr", lambda s: s["rv"]).alias("cent"))
            .orderBy("cid")
            .collect()
        )
        cents = [[float(x) for x in r.cent] for r in means]
        assigned = assign(cents)
    return assigned.select("vec_id", F.col("cid").alias("cluster"))


# ---------------------------------------------------------------------------
# Embedding storage quantization — per-vector int8 with scale factor
# ---------------------------------------------------------------------------

def _absmax(col: str):
    """max|x| over an array column, folded in codegen."""
    return F.aggregate(
        F.transform(col, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, v: F.when(v > acc, v).otherwise(acc),
    )


def _q8(x, max_abs):
    """int8 code of one element: round(x / max_abs * 127)."""
    # try_divide, not /: the declared (posexplode) form makes
    # InferFiltersFromGenerate synthesize `size(q) > 0` / `isnotnull(q)`
    # predicates that land in the SAME Filter as `max_abs > 0`, and
    # common-subexpression elimination evaluates the q transform there
    # BEFORE the guard conjunct can short-circuit — an ANSI plain
    # divide then errors on the all-zero vector the guard exists to
    # drop. For every surviving row max_abs > 0, so try_divide is
    # bit-identical to /.
    return F.round(F.try_divide(x.cast("double"), max_abs) * 127).cast("int")


def int8_quantize_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector, ARRAY form: q[i] =
    round(x[i] / max|x| * 127) plus the one scale factor — 4× smaller
    than float32 (the storage/bandwidth lever between full floats and
    PQ codes; dequantize = q * scale / 127 with ~0.4% max error).

    Map-only: the max-|x| fold and the transform run per row inside
    codegen, no shuffle, no Python. This is the storage-layout form a
    pipeline would actually persist; the DECLARED query below explodes
    it to scalar rows because the driver's pandas-based canonicalizer
    cannot lexsort list-typed cells (the r05 `err` — pytest keeps the
    array-form contract in tests/test_properties.py /
    tests/test_edge_cases.py)."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    q = F.transform("embedding", lambda x: _q8(x, F.col("max_abs")))
    return (
        e.withColumn("max_abs", _absmax("embedding"))
        .filter(F.col("max_abs") > 0)
        .select(
            "vec_id",
            F.round("max_abs", 6).alias("scale_factor"),
            q.alias("q"),
        )
    )


@query(
    "embed_int8_quantize",
    """
    WITH scaled AS (
      SELECT vec_id,
             list_reduce(list_prepend(0.0, list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), (acc, v) -> CASE WHEN v > acc THEN v ELSE acc END)
               AS max_abs
      FROM embeddings
    )
    SELECT e.vec_id,
           ROUND(s.max_abs, 6) AS scale_factor,
           CAST(UNNEST(range(len(e.embedding))) AS INT) AS pos,
           UNNEST(list_transform(e.embedding,
             x -> CAST(round(CAST(x AS DOUBLE) / s.max_abs * 127) AS INTEGER))) AS q_val
    FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id
    WHERE s.max_abs > 0
    """,
)
def embed_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared form of :func:`int8_quantize_vectors`, exploded to one
    row per (vec_id, pos) so every output column is scalar: the only
    r05 query with an ``array<>`` output column crashed the driver's
    pandas canonicalization (``sort_values`` → unhashable list). The
    oracle zips two same-level UNNESTs (position + code), which DuckDB
    aligns positionally — exactly ``posexplode``.

    Scale note: the explode multiplies rows by the embedding dim (64)
    but stays map-only (no shuffle, no Python); the persisted layout at
    100 TB remains the array form.

    r10 shape change (same rows): explode the RAW ``embedding`` column
    and quantize per exploded element, instead of posexploding the
    computed ``q`` array. InferFiltersFromGenerate synthesizes
    ``size(g)>0 AND isnotnull(g)`` over the Generate input ``g`` and
    pushes it below the projection, re-INLINING ``g``'s full expression
    — for ``g = q`` that filter re-evaluated the max-|x| fold INSIDE
    the per-element lambda, O(dim²) work per row in the scan-stage
    filter (the r10 before-plan's Filter carries the fold three times,
    twice under a transform). With ``g = embedding`` the inferred
    filter is a cheap column predicate, and the quantize arithmetic —
    identical per element: round(try_divide(x, max_abs) * 127) — runs
    exactly once, above the ``max_abs > 0`` guard."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    return (
        e.withColumn("max_abs", _absmax("embedding"))
        .filter(F.col("max_abs") > 0)
        .select("vec_id", "max_abs", F.posexplode("embedding").alias("pos", "x"))
        .select(
            "vec_id",
            F.round("max_abs", 6).alias("scale_factor"),
            "pos",
            _q8(F.col("x"), F.col("max_abs")).alias("q_val"),
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dim reduction before ANN)
# ---------------------------------------------------------------------------

_RP_K = 16  # output dimensionality


def _rp_sign(j: int, i: int) -> float:
    """Deterministic Rademacher ±1 for projection row j, input dim i —
    md5-keyed like every other portable hash in this package, so the
    'random' matrix is identical across engines, runs, and cluster
    sizes (an Achlioptas 2003 sign matrix; no RNG state to ship)."""
    import hashlib

    return (
        1.0
        if int(hashlib.md5(f"rp-{j}-{i}".encode()).hexdigest()[:2], 16) % 2 == 0
        else -1.0
    )


def _rp_oracle() -> str:
    rows = ", ".join(
        "(%d, [%s])" % (j, ", ".join(f"{_rp_sign(j, i):.1f}" for i in range(_DIM)))
        for j in range(_RP_K)
    )
    return f"""
    WITH proj AS (
      SELECT e.vec_id, p.pos,
             list_reduce(list_prepend(0.0,
               list_transform(range(1, {_DIM + 1}),
                 i -> CAST(e.embedding[i] AS DOUBLE) * p.s[i])),
               (acc, v) -> acc + v) * 0.25 AS val
      FROM embeddings e, (VALUES {rows}) AS p(pos, s)
    )
    SELECT vec_id, CAST(pos AS INT) AS pos, ROUND(val, 6) AS proj_val
    FROM proj
    """


@query("embed_random_projection", _rp_oracle())
def embed_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-surface: Johnson-Lindenstrauss random projection 64 → 16 dims
    (y_j = k^-1/2 * Σ_i ±x_i, Rademacher signs) — the standard
    dimensionality-reduction step BEFORE the LSH/IVF/PQ indexes when
    the raw embedding is wide: JL preserves pairwise distances within
    (1±ε) w.h.p., so bucketing in 16-d costs a fraction of the hash
    work and the index shrinks 4x.

    Spark-first shape: the sign matrix is 16 plan-time literal arrays
    (md5-derived, no RNG, no broadcast — it compiles into the
    projection expressions), each output dim is one zip_with multiply
    + one strict L→R aggregate fold in double (the `_dot` discipline,
    bitwise-reproducible against DuckDB's list_reduce), and the
    16-value array posexplodes to scalar rows (driver canonicalization
    cannot sort list cells — the embed_int8_quantize lesson). Map-only:
    no shuffle, no Python, rows × 16 out. 1/sqrt(16) = 0.25 is exact
    binary, so the only rounding is the final display ROUND 6.

    Measured scale-up (scripts/measure_new_ops.py as of commit
    41f55d4, local[32],
    synthetic 64-d vectors generated in-plan): 100k vectors 2.75 s →
    1M vectors 7.55 s (10x data, 2.7x time; 16M output rows) — the
    projection itself stays inside whole-stage codegen.

    No reference analog (refresh orchestration only,
    /root/reference/impala-refresher.go:46-181)."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    return random_project(e)


def random_project(e: DataFrame) -> DataFrame:
    """Core of `embed_random_projection` over any (vec_id, embedding)
    relation — separated so the hypothesis property can drive it
    against a brute-force python fold on arbitrary vectors."""
    dims = []
    for j in range(_RP_K):
        signs = F.array(*[F.lit(_rp_sign(j, i)) for i in range(_DIM)])
        prods = F.zip_with("embedding", signs, lambda x, s: x.cast("double") * s)
        dims.append(
            F.round(
                F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v) * F.lit(0.25),
                6,
            )
        )
    return e.select(
        "vec_id", F.posexplode(F.array(*dims)).alias("pos", "proj_val")
    )


@query(
    "knn_join_topk",
    f"""
    WITH u AS (SELECT vec_id, label, {_SQL_UNIT("embedding")} AS uv FROM embeddings),
    sym AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
             {_sql_dot("a.uv", "b.uv")} AS sim
      FROM u a JOIN u b ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id,
           CAST(rank AS INT) AS rank,
           ROUND(sim, 6) AS cos_sim
    FROM (
      SELECT vec_id, neighbor_id, sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, neighbor_id) AS rank
      FROM sym
    ) ranked
    WHERE rank <= 3
    ORDER BY vec_id, rank
    """,
)
def knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN self-join: EVERY vector's top-3 nearest neighbours (by
    cosine, within its label block) — the all-rows generalization of
    the single-query ``cosine_topk``, and the shape behind kNN-graph
    near-dup clustering and retrieval-index evaluation.

    Plan: ONE triangle-guarded pair join computes each unordered pair's
    dot product once; the symmetric view (each pair seen from both
    endpoints) is an in-place explode of the two directions, NOT a
    second join or a plan-duplicating union; then one
    window per vec_id takes the top-3 with a deterministic
    (sim DESC, neighbor_id) tie-break. Pair work is n²/2 within blocks
    — at 100 TB the blocking key comes from LSH buckets or IVF cells
    (as in ``ann_*``) and this exact plan runs per bucket.
    """
    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    u = e.select("vec_id", "label", _unit(F.col("embedding")).alias("uv"))
    pairs = blocked_pair_join(u, "label", "vec_id").select(
        F.col("a.vec_id").alias("pa"),
        F.col("b.vec_id").alias("pb"),
        _dot(F.col("a.uv"), F.col("b.uv")).alias("sim"),
    )
    # Symmetrize by exploding each pair into its two directions, NOT a
    # union of two selects (r10): Catalyst inlines the pair-join plan
    # into both union branches, so every dot product was computed TWICE
    # (the r10 before-plan shows two full scan→normalize→join subtrees
    # under the Union); the generate form emits both directions from
    # ONE join. Same rows.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("vec_id"), F.col("pb").alias("neighbor_id")),
                F.struct(F.col("pb").alias("vec_id"), F.col("pa").alias("neighbor_id")),
            )
        ).alias("_e"),
        "sim",
    ).select("_e.vec_id", "_e.neighbor_id", "sim")
    from pyspark.sql import Window as W

    w = W.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "vec_id",
            "neighbor_id",
            F.col("rank").cast("int").alias("rank"),
            F.round("sim", 6).alias("cos_sim"),
        )
        .orderBy("vec_id", "rank")
    )


# ---------------------------------------------------------------------------
# PCA top component by power iteration — Gram-matrix-free
# ---------------------------------------------------------------------------

_PCA_DIM = 64
_PCA_V0 = 0.125  # uniform init 1/sqrt(64) — exact in binary


@query(
    "pca_power_iteration",
    f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    s1 AS (
      SELECT vec_id, embedding,
             list_reduce(list_prepend(0.0, list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * {_PCA_V0})),
                         (a, x) -> a + x) AS s
      FROM e
    ),
    z1 AS (
      SELECT u.i AS dim, ROUND(SUM(s1.s * CAST(s1.embedding[u.i] AS DOUBLE)), 4) AS z
      FROM s1, UNNEST(range(1, {_PCA_DIM + 1})) AS u(i)
      GROUP BY u.i
    ),
    z1arr AS (SELECT list(z ORDER BY dim) AS za FROM z1),
    s2 AS (
      SELECT e.vec_id, e.embedding,
             list_reduce(list_prepend(0.0, list_transform(range(1, {_PCA_DIM + 1}),
                         i -> CAST(e.embedding[i] AS DOUBLE) * za[i])),
                         (a, x) -> a + x) AS s
      FROM e CROSS JOIN z1arr
    ),
    z2 AS (
      SELECT u.i AS dim1, ROUND(SUM(s2.s * CAST(s2.embedding[u.i] AS DOUBLE)), 2) AS loading
      FROM s2, UNNEST(range(1, {_PCA_DIM + 1})) AS u(i)
      GROUP BY u.i
    )
    SELECT CAST(dim1 - 1 AS INTEGER) AS dim, loading FROM z2
    """,
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) embedding matrix by
    TWO unrolled power iterations, v ← Xᵀ(Xv) — without ever building
    the d×d Gram matrix. Each iteration is two linear passes over X:
    a map-only per-row dot `s_r = x_r·v` (strict L→R fold, identical
    in both engines), then one partial-aggregable (dim, Σ s_r·x_r[dim])
    hash aggregate producing the next 64-row vector.

    Why this shape at 100 TB: the Gram-matrix route explodes d² = 4096
    covariance terms per row before aggregating; this route explodes
    exactly d, and the iteration vector is a 64-row relation attached
    back as a sorted-array broadcast (`list(z ORDER BY dim)` /
    `array_sort(collect_list(struct))` — the kmeans centroid exchange
    pattern). Iteration vectors are ROUND-stabilized (4dp then 2dp)
    so each round's inputs are decimal-terminating in both engines;
    normalization is deferred to the consumer (production loops
    rescale each round with the same broadcast pattern to avoid
    overflow, which two rounds cannot reach).
    """
    e = fan_out(load_table(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    s1 = e.withColumn(
        "s",
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * _PCA_V0),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    z1 = (
        s1.select(
            "s", F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "x")
        )
        .groupBy("d0")
        .agg(F.round(F.sum(F.col("s") * F.col("x")), 4).alias("z"))
    )
    z1arr = z1.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d0", "z"))), lambda s: s["z"]
        ).alias("za")
    )
    s2 = e.crossJoin(F.broadcast(z1arr)).withColumn(
        "s",
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.lit(_PCA_DIM)),
                lambda i: F.element_at("embedding", i).cast("double")
                * F.element_at("za", i),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    z2 = (
        s2.select(
            "s", F.posexplode(F.col("embedding").cast("array<double>")).alias("d0", "x")
        )
        .groupBy("d0")
        .agg(F.round(F.sum(F.col("s") * F.col("x")), 2).alias("loading"))
    )
    return z2.select(F.col("d0").cast("int").alias("dim"), "loading")
