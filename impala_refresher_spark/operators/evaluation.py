"""Model-evaluation operators: classifier agreement (confusion matrix
+ Cohen's kappa) and rank-based AUC — the measurement half of the
LLM-data-pipeline story (the heuristics in ``operators/text.py``
produce predictions; these score them against labels, distributed).

The reference has no data plane (impala-refresher.go:49); SURVEY.md
§2C directs the engine surface, and a training-data pipeline that
filters by classifier output needs these to know WHICH classifier to
trust.

Scale notes (100 TB):
- The confusion matrix is one hash aggregate over (label, prediction)
  — at most |classes|² groups, pure map-side combine; kappa folds out
  of the matrix's marginals with a broadcast 1-row total, never a
  second scan.
- AUC via the Mann-Whitney rank statistic is one global ranking over
  scores. Ranks need a total order: at this grain a single sort; at
  100 TB swap in the histogram trick (bucket scores, accumulate
  cumulative negatives per bucket — partial-aggregable) documented on
  the operator. Ties take the average rank, computed from rank() +
  per-score counts (deterministic, engine-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from impala_refresher_spark.operators.prefix import (
    bucketed_prefix,
    ntile_of,
    with_global_running,
)
from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import load_table

# DuckDB twin of `_langid_matrix`: the ``labeled`` (label, pred) rows
# and the ``cm`` confusion-matrix CTE.
_SQL_LANGID_MATRIX = """labeled AS (
        SELECT CASE WHEN lang IN ('en', 'de', 'es', 'fr')
                    THEN lang ELSE 'other' END AS label,
               CASE WHEN n_chars % 5 = 0 THEN 'other'
                    WHEN lang IN ('en', 'de', 'es', 'fr') THEN lang
                    ELSE 'other' END AS pred
        FROM documents
    ),
    cm AS (
        SELECT label, pred, CAST(COUNT(*) AS BIGINT) AS n
        FROM labeled GROUP BY label, pred
    )"""


def _langid_matrix(docs: DataFrame) -> DataFrame:
    """(label, pred, n): the confusion matrix between the labeled
    language and a deliberately imperfect, deterministic prediction
    (the n_chars residue corrupts every 5th doc), so both engines
    rebuild it identically. The KB-sized matrix is materialized ONCE:
    its callers derive several relations from it, and without the cut
    each would replay the corpus scan (measured: 4 scan nodes, no
    exchange reuse) — the localCheckpoint discipline of the CC/BFS
    edge relations."""
    known = F.col("lang").isin("en", "de", "es", "fr")
    label = F.when(known, F.col("lang")).otherwise("other")
    pred = (
        F.when(F.col("n_chars") % 5 == 0, "other")
        .when(known, F.col("lang"))
        .otherwise("other")
    )
    return (
        docs.select(label.alias("label"), pred.alias("pred"))
        .groupBy("label", "pred")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()
    )


@query(
    "langid_confusion_kappa",
    f"""
    WITH {_SQL_LANGID_MATRIX},
    tot AS (
        SELECT SUM(n) AS total,
               SUM(CASE WHEN label = pred THEN n ELSE 0 END) AS agree
        FROM cm
    ),
    marg AS (
        -- COALESCE: a matrix whose labels never appear as predictions
        -- (e.g. one always-wrong class) makes this join EMPTY; the
        -- marginal product sum is then 0 by definition, not NULL
        SELECT COALESCE(SUM(l.row_n * p.col_n), 0) AS exp_agree_scaled
        FROM (SELECT label, SUM(n) AS row_n FROM cm GROUP BY label) l
        JOIN (SELECT pred, SUM(n) AS col_n FROM cm GROUP BY pred) p
          ON l.label = p.pred
    )
    SELECT cm.label, cm.pred, cm.n,
           ROUND(CAST(t.agree AS DOUBLE) / t.total, 4) AS po,
           ROUND(CAST(m.exp_agree_scaled AS DOUBLE) / (t.total * t.total),
                 4) AS pe,
           ROUND((CAST(t.agree AS DOUBLE) / t.total
                  - CAST(m.exp_agree_scaled AS DOUBLE)
                    / (t.total * t.total))
                 / (1.0 - CAST(m.exp_agree_scaled AS DOUBLE)
                          / (t.total * t.total)), 4) AS kappa
    FROM cm CROSS JOIN tot t CROSS JOIN marg m
    ORDER BY cm.label, cm.pred
    """,
)
def langid_confusion_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-agreement report: the confusion matrix between the
    labeled language and a (deliberately imperfect, deterministic)
    language prediction, with observed agreement p_o, chance agreement
    p_e from the marginals, and Cohen's κ = (p_o − p_e)/(1 − p_e)
    replicated onto every matrix row.

    One |classes|²-group hash aggregate builds the matrix; totals,
    marginal products, and κ all derive from that matrix (broadcast
    1-row joins), so the corpus is scanned ONCE. Expected agreement is
    computed in exact INTEGER arithmetic (Σ row_n·col_n, scaled) and
    divided once at the end — no per-class float accumulation to
    diverge. The 'prediction' is a deterministic function of the
    fixture (n_chars residue corrupts every 5th doc) so both engines
    rebuild it identically."""
    cm = _langid_matrix(load_table(spark, sf_dir, "documents"))
    tot = cm.agg(
        F.sum("n").alias("total"),
        F.sum(F.when(F.col("label") == F.col("pred"), F.col("n")).otherwise(0)).alias(
            "agree"
        ),
    )
    rows = cm.groupBy("label").agg(F.sum("n").alias("row_n"))
    cols = cm.groupBy("pred").agg(F.sum("n").alias("col_n"))
    marg = (
        rows.join(cols, rows.label == cols.pred)
        # empty join (labels and predictions disjoint) => Σ row·col is
        # 0 by definition; bare SUM would yield NULL and poison pe/κ
        .agg(
            F.coalesce(
                F.sum(F.col("row_n") * F.col("col_n")), F.lit(0)
            ).alias("exp_agree_scaled")
        )
    )
    po = F.col("agree").cast("double") / F.col("total")
    pe = F.col("exp_agree_scaled").cast("double") / (
        F.col("total") * F.col("total")
    )
    return (
        cm.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(marg))
        .select(
            "label",
            "pred",
            "n",
            F.round(po, 4).alias("po"),
            F.round(pe, 4).alias("pe"),
            # try_divide: pe = 1 (single-cell matrix — one class,
            # always-right classifier) zeroes the denominator; ANSI
            # Spark errors where DuckDB yields NULL
            F.round(F.try_divide(po - pe, 1.0 - pe), 4).alias("kappa"),
        )
        .orderBy("label", "pred")
    )


@query(
    "score_auc_quality",
    """
    WITH scored AS (
        SELECT n_chars AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    ranked AS (
        SELECT score, pos,
               RANK() OVER (ORDER BY score) AS r,
               COUNT(*) OVER (PARTITION BY score) AS tie_n
        FROM scored
    ),
    stats AS (
        SELECT SUM(CASE WHEN pos = 1
                        THEN (2.0 * r + tie_n - 1) / 2.0 ELSE 0 END)
                   AS pos_rank_sum,
               SUM(pos) AS n_pos,
               SUM(1 - pos) AS n_neg
        FROM ranked
    )
    SELECT CAST(n_pos AS BIGINT) AS n_pos,
           CAST(n_neg AS BIGINT) AS n_neg,
           ROUND((pos_rank_sum - n_pos * (n_pos + 1) / 2.0)
                 / (CAST(n_pos AS DOUBLE) * n_neg), 4) AS auc
    FROM stats
    """,
)
def score_auc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based AUC (Mann-Whitney): does document length separate
    English from non-English docs? AUC = P(random positive outranks
    random negative), computed from the rank-sum statistic with
    average ranks for ties — the standard evaluation for any scoring
    function feeding a quality gate (threshold-free, unlike
    precision at a fixed cutoff).

    The tie-averaged rank derives from rank() + a per-score count
    window — both deterministic and engine-identical (no dense_rank
    ambiguity, no float ordering). The rank runs TWO-LEVEL
    (`prefix.bucketed_prefix`): in-bucket rank() over score-percentile
    buckets + the prior-bucket row count — equal to the global
    min-rank because ties share a bucket — so the doc-grain path is
    hash-partitioned windows only (the tie-count window was already
    keyed by score). Ranks are integers, the rank-sum is exact in
    doubles far below 2^53, and only the final quotient rounds."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    # Two-level rank (prefix.bucketed_prefix): ties share a bucket, so
    # in-bucket rank() + the prior-bucket row count equals the global
    # min-rank exactly; the tie-count window stays keyed by score.
    b, in_bucket = bucketed_prefix(
        scored,
        key="score",
        ascending=True,
        tie_cols=[],
        totals={"cnt": F.lit(1).cast("long")},
    )
    ranked = b.select(
        "score",
        "pos",
        (F.col("_off_cnt") + F.rank().over(in_bucket)).alias("r"),
        F.count("*").over(Window.partitionBy("score")).alias("tie_n"),
    )
    avg_rank = (2.0 * F.col("r") + F.col("tie_n") - 1) / 2.0
    stats = ranked.agg(
        F.sum(F.when(F.col("pos") == 1, avg_rank).otherwise(0.0)).alias(
            "pos_rank_sum"
        ),
        F.sum("pos").alias("n_pos"),
        F.sum(1 - F.col("pos")).alias("n_neg"),
    )
    return stats.select(
        F.col("n_pos").cast("long").alias("n_pos"),
        F.col("n_neg").cast("long").alias("n_neg"),
        # try_divide: if either class is absent (a filtered corpus can
        # plausibly be all-positive), n_pos*n_neg = 0 — ANSI Spark
        # errors on the division while DuckDB yields NULL; try_divide
        # emits the same NULL AUC on both engines.
        F.round(
            F.try_divide(
                F.col("pos_rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0,
                F.col("n_pos").cast("double") * F.col("n_neg"),
            ),
            4,
        ).alias("auc"),
    )


@query(
    "langid_precision_recall",
    f"""
    WITH {_SQL_LANGID_MATRIX},
    classes AS (
        SELECT label AS cls FROM cm
        UNION
        SELECT pred FROM cm
    ),
    per_class AS (
        SELECT c.cls,
               COALESCE(SUM(CASE WHEN cm.label = c.cls AND cm.pred = c.cls
                                 THEN cm.n END), 0) AS tp,
               COALESCE(SUM(CASE WHEN cm.pred = c.cls THEN cm.n END), 0)
                   AS pred_n,
               COALESCE(SUM(CASE WHEN cm.label = c.cls THEN cm.n END), 0)
                   AS label_n
        FROM classes c LEFT JOIN cm
          ON cm.label = c.cls OR cm.pred = c.cls
        GROUP BY c.cls
    )
    SELECT cls,
           CAST(tp AS BIGINT) AS tp,
           CAST(label_n AS BIGINT) AS support,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(pred_n, 0), 4) AS precision,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(label_n, 0), 4) AS recall,
           ROUND(2.0 * tp / NULLIF(pred_n + label_n, 0), 4) AS f1
    FROM per_class
    ORDER BY cls
    """,
)
def langid_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 from the same confusion
    matrix as `langid_confusion_kappa` — the per-class complement of
    its single-number agreement. F1 computed as 2·tp/(pred_n+label_n)
    (algebraically identical to the harmonic mean, but one division —
    nothing to diverge cross-engine; NULLIF guards empty classes).

    Everything derives from the |classes|²-row matrix: the class list,
    the tp/pred/label marginals (one small join + aggregate over the
    MATRIX, not the corpus), so the corpus is scanned once regardless
    of class count."""
    cm = _langid_matrix(load_table(spark, sf_dir, "documents"))
    classes = (
        cm.select(F.col("label").alias("cls"))
        .union(cm.select("pred"))
        .distinct()
    )
    joined = classes.join(
        cm, (cm.label == classes.cls) | (cm.pred == classes.cls), "left"
    )
    per_class = joined.groupBy("cls").agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("label") == F.col("cls"))
                    & (F.col("pred") == F.col("cls")),
                    F.col("n"),
                )
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(
            F.sum(F.when(F.col("pred") == F.col("cls"), F.col("n"))), F.lit(0)
        ).alias("pred_n"),
        F.coalesce(
            F.sum(F.when(F.col("label") == F.col("cls"), F.col("n"))), F.lit(0)
        ).alias("label_n"),
    )
    return per_class.select(
        "cls",
        F.col("tp").cast("long").alias("tp"),
        F.col("label_n").cast("long").alias("support"),
        F.round(
            F.col("tp").cast("double") / F.nullif(F.col("pred_n"), F.lit(0)), 4
        ).alias("precision"),
        F.round(
            F.col("tp").cast("double") / F.nullif(F.col("label_n"), F.lit(0)), 4
        ).alias("recall"),
        F.round(
            2.0 * F.col("tp") / F.nullif(F.col("pred_n") + F.col("label_n"), F.lit(0)),
            4,
        ).alias("f1"),
    ).orderBy("cls")


@query(
    "chisq_segment_status",
    """
    WITH joint AS (
        SELECT c.c_mktsegment AS seg, o.o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS total FROM joint),
    rm AS (SELECT seg, SUM(n) AS row_n FROM joint GROUP BY seg),
    cmarg AS (SELECT status, SUM(n) AS col_n FROM joint GROUP BY status)
    SELECT j.seg, j.status, j.n,
           ROUND(CAST(r.row_n * c.col_n AS DOUBLE) / t.total, 2) AS expected,
           ROUND(POW(j.n - CAST(r.row_n * c.col_n AS DOUBLE) / t.total, 2)
                 / (CAST(r.row_n * c.col_n AS DOUBLE) / t.total), 4)
               AS chi2_term
    FROM joint j
    JOIN rm r ON j.seg = r.seg
    JOIN cmarg c ON j.status = c.status
    CROSS JOIN tot t
    ORDER BY j.seg, j.status
    """,
)
def chisq_segment_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between customer market segment
    and order status: each contingency cell with its expected count
    under independence (row·col/total) and its χ² term — the
    categorical-association screen (is fulfillment behavior uniform
    across segments?). Summing chi2_term gives the statistic; the
    per-cell view localizes WHICH cells drive it.

    One fact-dim join (customer broadcasts) feeding one
    |seg|×|status| hash aggregate; marginals and the total come from
    that small matrix — single corpus scan, exact integer products in
    the expected-count numerators (row_n·col_n < 2^63)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    joint = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")), 
               o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.count("*").alias("n"))
    )
    tot = joint.agg(F.sum("n").alias("total"))
    rm = joint.groupBy("seg").agg(F.sum("n").alias("row_n"))
    cmarg = joint.groupBy("status").agg(F.sum("n").alias("col_n"))
    expected = (F.col("row_n") * F.col("col_n")).cast("double") / F.col("total")
    return (
        joint.join(F.broadcast(rm), "seg")
        .join(F.broadcast(cmarg), "status")
        .crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "status",
            "n",
            F.round(expected, 2).alias("expected"),
            F.round(
                F.pow(F.col("n") - expected, 2) / expected, 4
            ).alias("chi2_term"),
        )
        .orderBy("seg", "status")
    )


@query(
    "score_gain_deciles",
    """
    WITH scored AS (
        SELECT doc_id,
               n_chars AS score,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM documents
    ),
    ranked AS (
        SELECT pos,
               NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
        FROM scored
    ),
    per AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS n_pos
        FROM ranked GROUP BY decile
    )
    SELECT decile, n, n_pos,
           ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile) AS DOUBLE)
                 / SUM(n_pos) OVER (), 4) AS cum_capture,
           ROUND((CAST(n_pos AS DOUBLE) / n)
                 / (CAST(SUM(n_pos) OVER () AS DOUBLE) / SUM(n) OVER ()),
                 4) AS lift
    FROM per
    ORDER BY decile
    """,
)
def score_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gain/lift chart: rank documents by score (here n_chars, the
    same scorer AUC'd above), cut into deciles, and report each
    decile's positive capture and lift over the base rate — the
    targeting question AUC doesn't answer ('how much of the good
    stuff is in the top 10%?').

    NTILE runs over a TOTAL order (score DESC, doc_id) so decile
    assignment is deterministic and engine-identical even through
    score ties — and it runs TWO-LEVEL: row_number via
    `prefix.with_global_running` (bucket-partitioned windows + offset
    broadcast) with NTILE(10) recovered exactly from (i, n) by
    `prefix.ntile_of`, so no corpus-wide single-partition sort; the
    per-decile aggregate and both report windows then run over 10
    rows."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.col("n_chars").alias("score"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    # Two-level decile assignment (prefix.with_global_running): the
    # doc-grain row_number runs bucket-partitioned and NTILE(10) is
    # recovered exactly from (i, n) — no corpus-wide single-partition
    # sort; output values unchanged.
    run = with_global_running(
        scored,
        key="score",
        ascending=False,
        tie_cols=["doc_id"],
        running={"i": F.lit(1).cast("long")},
    )
    n_all = scored.agg(F.count("*").cast("long").alias("n_all"))
    per = (
        run.crossJoin(F.broadcast(n_all))
        .select("pos", ntile_of(F.col("i"), F.col("n_all"), 10).alias("decile"))
        .groupBy("decile")
        .agg(F.count("*").alias("n"), F.sum("pos").cast("long").alias("n_pos"))
    )
    cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    return (
        per.select(
            "decile",
            "n",
            "n_pos",
            # try_divide: a corpus with zero positives (plausible after
            # an upstream filter) zeroes both the capture denominator
            # and the overall rate — ANSI Spark errors, DuckDB NULLs
            F.round(
                F.try_divide(
                    F.sum("n_pos").over(cum).cast("double"),
                    F.sum("n_pos").over(tot),
                ),
                4,
            ).alias("cum_capture"),
            F.round(
                F.try_divide(
                    F.col("n_pos").cast("double") / F.col("n"),
                    F.sum("n_pos").over(tot).cast("double")
                    / F.sum("n").over(tot),
                ),
                4,
            ).alias("lift"),
        )
        .orderBy("decile")
    )


@query(
    "subsample_ci_revenue",
    """
    WITH bucketed AS (
        SELECT CAST(o_orderkey % 16 AS INTEGER) AS bucket,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    per_bucket AS (
        SELECT bucket,
               CAST(ROUND(CAST(SUM(cents) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS mean_cents
        FROM bucketed GROUP BY bucket
    ),
    moments AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_subsamples,
               CAST(SUM(mean_cents) AS DOUBLE) AS s1,
               CAST(SUM(mean_cents * mean_cents) AS DOUBLE) AS s2
        FROM per_bucket
    ),
    stats AS (
        SELECT n_subsamples,
               s1 / n_subsamples AS gm_c,
               CASE WHEN n_subsamples > 1 THEN
                   SQRT(GREATEST(0.0,
                        (s2 - s1 * s1 / n_subsamples)
                        / (n_subsamples - 1)))
               END AS sd_c
        FROM moments
    )
    SELECT n_subsamples,
           ROUND(gm_c) / 100.0 AS grand_mean,
           ROUND(sd_c) / 100.0 AS between_sd,
           ROUND(gm_c - 2.131 * sd_c / 4.0) / 100.0 AS ci_lo,
           ROUND(gm_c + 2.131 * sd_c / 4.0) / 100.0 AS ci_hi
    FROM stats
    """,
)
def subsample_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subsample (delete-d jackknife style) confidence interval for
    mean order value: 16 disjoint key-residue subsamples, each
    yielding a mean; the spread of those means estimates the sampling
    error and a t-interval (t_{15,0.975} = 2.131) bounds the grand
    mean — the error-bar companion to `aqp_revenue_estimate`'s point
    estimates, with NO randomness (key residues are deterministic, so
    both engines build identical subsamples).

    One fact pass: the 16 per-bucket sufficient statistics are a
    single partial-aggregable group-by; the CI folds out of the
    16-row frame. Cross-engine exactness (the r04 driver caught a
    half-cent ROUND tie in the float formulation): every accumulation
    happens in EXACT integer cents (prices → BIGINT cents map-side;
    per-bucket mean cents rounded from an exact-integer quotient;
    between-bucket moments are BIGINT Σx and Σx²), so both engines
    feed IDENTICAL integers into an IDENTICAL fixed-shape chain of
    IEEE double ops — deterministic regardless of accumulation order,
    partition count, or engine. The grand mean, stddev, and t-interval
    are each rounded exactly once, at the very end."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.select(
        (F.col("o_orderkey") % 16).cast("int").alias("bucket"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    per_bucket = cents.groupBy("bucket").agg(
        F.round(F.sum("cents").cast("double") / F.count("*"))
        .cast("bigint")
        .alias("mean_cents")
    )
    moments = per_bucket.agg(
        F.count("*").alias("n_subsamples"),
        F.sum("mean_cents").cast("double").alias("s1"),
        F.sum(F.col("mean_cents") * F.col("mean_cents"))
        .cast("double")
        .alias("s2"),
    )
    s1, s2, n = F.col("s1"), F.col("s2"), F.col("n_subsamples")
    stats = moments.select(
        "n_subsamples",
        (s1 / n).alias("gm_c"),
        # n>1 gate mirrors STDDEV_SAMP's NULL on a single subsample;
        # GREATEST(0, ·) clamps the -epsilon a zero-variance input can
        # leave after the >2^53 s1*s1 product rounds (DuckDB errors on
        # sqrt(-eps), Spark returns NaN — both wrong).
        F.when(
            n > 1,
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    (s2 - s1 * s1 / n) / (n - F.lit(1)),
                )
            ),
        ).alias("sd_c"),
    )
    # Final rounds are SCALE-0 in the cents domain (ROUND(cents)/100,
    # never ROUND(dollars, 2)): a half-cent tie is representable as
    # k.5 cents and both engines round it half-away, whereas scale-2
    # rounding of the same double diverges (Spark rounds the shortest-
    # decimal repr, DuckDB the exact binary value).
    gm_c, sd_c = F.col("gm_c"), F.col("sd_c")
    half_c = F.lit(2.131) * sd_c / F.lit(4.0)
    return stats.select(
        "n_subsamples",
        (F.round(gm_c) / 100.0).alias("grand_mean"),
        (F.round(sd_c) / 100.0).alias("between_sd"),
        (F.round(gm_c - half_c) / 100.0).alias("ci_lo"),
        (F.round(gm_c + half_c) / 100.0).alias("ci_hi"),
    )


@query(
    "survival_user_retention",
    """
    WITH spans AS (
        SELECT user_id,
               DATEDIFF('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))
                   AS duration,
               CAST(MAX(ts) AS DATE) AS last_day
        FROM events GROUP BY user_id
    ),
    horizon AS (SELECT MAX(last_day) AS corpus_end FROM spans),
    obs AS (
        SELECT s.duration,
               CASE WHEN DATEDIFF('day', s.last_day, h.corpus_end) >= 7
                    THEN 1 ELSE 0 END AS churned
        FROM spans s CROSS JOIN horizon h
    ),
    risk AS (
        SELECT duration AS t,
               CAST(SUM(churned) AS BIGINT) AS d,
               CAST((SELECT COUNT(*) FROM obs o2
                     WHERE o2.duration >= o.duration) AS BIGINT) AS n
        FROM obs o
        GROUP BY duration
        HAVING SUM(churned) > 0
    )
    SELECT t, d, n,
           CASE WHEN MAX(CASE WHEN d >= n THEN 1 ELSE 0 END)
                     OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) = 1
                THEN 0.0
                ELSE ROUND(EXP(SUM(CASE WHEN d < n
                                        THEN LN(1.0 - CAST(d AS DOUBLE) / n)
                                   END)
                          OVER (ORDER BY t
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)), 4)
           END AS survival
    FROM risk
    ORDER BY t
    """,
)
def survival_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier retention curve: S(t) = Π_{t_i ≤ t} (1 − d_i/n_i)
    over observed churn times, where a user churns at their
    last-activity day unless that day is within 7 days of the corpus
    end (then they are CENSORED — still alive, contributing to the
    risk set but never to deaths). Survival analysis is the correct
    tool wherever naive churn rates are biased by observation cutoff —
    the last genuinely distinct statistical family in the evaluation
    module.

    Shape: per-user spans (one user_id aggregate over the fact), a
    broadcast 1-row horizon, then the KM machinery runs on the
    DURATION GRAIN: the risk set n_i = Σ_{t≥t_i} counts and the
    running product (as exp∘Σ∘ln over the day-ordered frame) both
    window over distinct durations — hundreds of rows regardless of
    user count. The ln/exp round-trip accumulates identical-ordered
    IEEE terms on both engines; the final value rounds once.

    Degenerate-factor guard: when d_i == n_i at some duration (every
    at-risk user churned — reachable whenever the max-duration user
    churns alone), the factor (1 − d/n) is 0 and survival is EXACTLY
    0 from that point on. ln(0) must never reach the fold: Spark's
    F.log(0) yields NULL (silently skipped by SUM) while DuckDB's
    LN(0) raises — the engines would disagree. Both sides therefore
    guard the term with d < n and emit survival = 0.0 via a running
    MAX(d >= n) cutover flag instead of evaluating the log."""
    e = load_table(spark, sf_dir, "events")
    spans = e.groupBy("user_id").agg(
        F.datediff(
            F.max("ts").cast("date"), F.min("ts").cast("date")
        ).alias("duration"),
        F.max("ts").cast("date").alias("last_day"),
    )
    horizon = spans.agg(F.max("last_day").alias("corpus_end"))
    obs = spans.crossJoin(F.broadcast(horizon)).select(
        "duration",
        F.when(
            F.datediff(F.col("corpus_end"), F.col("last_day")) >= 7, 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    # risk set per distinct duration: users with duration >= t — a
    # reverse-cumulative count over the duration grain, not per user
    per_t = obs.groupBy(F.col("duration").alias("t")).agg(
        F.count("*").alias("n_at"),
        F.sum("churned").cast("long").alias("d"),
    )
    rev = Window.orderBy(F.desc("t")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = per_t.select(
        "t", "d", F.sum("n_at").over(rev).cast("long").alias("n")
    ).filter(F.col("d") > 0)
    run = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # d == n means a zero factor: survival is exactly 0 from there on.
    # Guard the log term (F.log(0) -> NULL, silently skipped by SUM)
    # and cut over explicitly via a running "zero factor seen" flag.
    term = F.when(
        F.col("d") < F.col("n"),
        F.log(1.0 - F.col("d").cast("double") / F.col("n")),
    )
    hit_zero = F.max(
        F.when(F.col("d") >= F.col("n"), 1).otherwise(0)
    ).over(run)
    km = F.when(hit_zero == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum(term).over(run)), 4)
    )
    return risk.select(
        "t", "d", "n", km.alias("survival")
    ).orderBy("t")


@query(
    "ks_statistic_status",
    """
    WITH cents AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS in_f
        FROM orders
        WHERE o_orderstatus IN ('F', 'O')
    ),
    per_v AS (
        SELECT v,
               CAST(SUM(in_f) AS BIGINT) AS nf,
               CAST(SUM(1 - in_f) AS BIGINT) AS no
        FROM cents GROUP BY v
    ),
    cum AS (
        SELECT v,
               SUM(nf) OVER (ORDER BY v) AS cf,
               SUM(no) OVER (ORDER BY v) AS co,
               SUM(nf) OVER () AS tf,
               SUM(no) OVER () AS tot_o
        FROM per_v
    )
    SELECT CAST(MAX(tf) AS BIGINT) AS n_f,
           CAST(MAX(tot_o) AS BIGINT) AS n_o,
           ROUND(MAX(ABS(CAST(cf AS DOUBLE) / tf
                         - CAST(co AS DOUBLE) / tot_o)), 4) AS ks_d
    FROM cum
    """,
)
def ks_statistic_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic: D = max |F_F(x) −
    F_O(x)| between the order-value distributions of fulfilled vs
    open orders — the distribution-shift detector (same tool flags
    train/serve feature drift), answering what mean comparisons miss.

    Values enter as integer cents (exact grouping); both empirical
    CDFs come from ONE pass: per-value counts for both samples in a
    single aggregate, then cumulative sums over the VALUE grain and a
    max-abs-difference. The cumulative sums run TWO-LEVEL
    (`prefix.with_global_running`: value-percentile buckets, offset
    broadcast, bucket-partitioned windows) and the class totals attach
    by broadcast — no value-grain single-partition window, and D stays
    EXACT (not bucket-resolution approximate: the offsets preserve the
    per-value CDF)."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    cents = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("in_f"),
    )
    per_v = cents.groupBy("v").agg(
        F.sum("in_f").cast("long").alias("nf"),
        F.sum(1 - F.col("in_f")).cast("long").alias("no"),
    )
    # Two-level CDFs (prefix.with_global_running): the running counts
    # over distinct cent values go bucket-partitioned and the class
    # totals attach by broadcast — no value-grain single-partition
    # window; output values unchanged.
    run = with_global_running(
        per_v,
        key="v",
        ascending=True,
        tie_cols=[],
        running={"cf": F.col("nf"), "co": F.col("no")},
    )
    tots = per_v.agg(F.sum("nf").alias("tf"), F.sum("no").alias("tot_o"))
    cum = run.crossJoin(F.broadcast(tots)).select("cf", "co", "tf", "tot_o")
    return cum.agg(
        F.max("tf").cast("long").alias("n_f"),
        F.max("tot_o").cast("long").alias("n_o"),
        # try_divide: an input where one status class is absent zeroes
        # that CDF's denominator — ANSI Spark errors, DuckDB NULLs; the
        # guarded form yields a NULL D on both engines
        F.round(
            F.max(
                F.abs(
                    F.try_divide(F.col("cf").cast("double"), F.col("tf"))
                    - F.try_divide(F.col("co").cast("double"), F.col("tot_o"))
                )
            ),
            4,
        ).alias("ks_d"),
    )


@query(
    "anova_segment_acctbal",
    """
    WITH g AS (
        SELECT c_mktsegment AS seg,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(c_acctbal) AS s,
               SUM(c_acctbal * c_acctbal) AS ss
        FROM customer GROUP BY c_mktsegment
    ),
    tot AS (
        SELECT SUM(n) AS n_tot, SUM(s) AS s_tot, SUM(ss) AS ss_tot,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM g
    )
    SELECT g.seg, g.n,
           ROUND(g.s / g.n, 2) AS group_mean,
           ROUND((SUM(g.s * g.s / g.n) OVER ()
                  - t.s_tot * t.s_tot / t.n_tot) / (t.k - 1), 2)
               AS ms_between,
           ROUND((t.ss_tot - SUM(g.s * g.s / g.n) OVER ())
                 / (t.n_tot - t.k), 2) AS ms_within,
           ROUND(((SUM(g.s * g.s / g.n) OVER ()
                   - t.s_tot * t.s_tot / t.n_tot) / (t.k - 1))
                 / ((t.ss_tot - SUM(g.s * g.s / g.n) OVER ())
                    / (t.n_tot - t.k)), 4) AS f_stat
    FROM g CROSS JOIN tot t
    ORDER BY g.seg
    """,
)
def anova_segment_acctbal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does mean account balance differ across market
    segments? F = MS_between / MS_within from the three sufficient
    statistics per group (n, Σx, Σx²) — the categorical×NUMERIC
    association test completing the family (χ² covers
    categorical×categorical, corr covers numeric×numeric).

    The `ols_per_nation` discipline: one partial-aggregable pass
    collects the per-group sufficient statistics; every sum of
    squares folds out of the |segments|-row frame (windows over ≤5
    rows + a broadcast 1-row total) — the corpus is scanned once and
    the F statistic costs nothing more than a GROUP BY. The same
    F/MS values replicate onto each group row alongside its mean, so
    one result serves both the test and the group report."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("c_acctbal").alias("s"),
        F.sum(F.col("c_acctbal") * F.col("c_acctbal")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("n_tot"),
        F.sum("s").alias("s_tot"),
        F.sum("ss").alias("ss_tot"),
        F.count("*").cast("long").alias("k"),
    )
    w = Window.partitionBy()
    explained = F.sum(F.col("s") * F.col("s") / F.col("n")).over(w)
    # try_divide on every data-dependent denominator: k-1 = 0 (one
    # segment), n_tot-k = 0 (every group a singleton), and ms_within
    # = 0 (zero within-group variance) are all reachable on plausible
    # inputs — ANSI Spark errors on /0 where DuckDB yields NULL, so
    # the guarded form emits the oracle's NULL on both engines.
    ms_between = F.try_divide(
        explained - F.col("s_tot") * F.col("s_tot") / F.col("n_tot"),
        F.col("k") - 1,
    )
    ms_within = F.try_divide(
        F.col("ss_tot") - explained, F.col("n_tot") - F.col("k")
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "seg",
            "n",
            F.round(F.col("s") / F.col("n"), 2).alias("group_mean"),
            F.round(ms_between, 2).alias("ms_between"),
            F.round(ms_within, 2).alias("ms_within"),
            F.round(F.try_divide(ms_between, ms_within), 4).alias("f_stat"),
        )
        .orderBy("seg")
    )


@query(
    "mutual_information_lang_source",
    """
    WITH joint AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT SUM(n) AS total FROM joint),
    lm AS (SELECT lang, SUM(n) AS n_lang FROM joint GROUP BY lang),
    sm AS (SELECT source, SUM(n) AS n_src FROM joint GROUP BY source)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(SUM((CAST(j.n AS DOUBLE) / t.total)
                     * LOG2(CAST(j.n AS DOUBLE) * t.total
                            / (CAST(l.n_lang AS DOUBLE) * s.n_src))), 4)
               AS mi_bits,
           ROUND(-MAX(DISTINCT_H.h), 4) AS h_lang
    FROM joint j
    JOIN lm l ON j.lang = l.lang
    JOIN sm s ON j.source = s.source
    CROSS JOIN tot t
    CROSS JOIN (
        SELECT SUM((CAST(n_lang AS DOUBLE) / t2.total)
                   * LOG2(CAST(n_lang AS DOUBLE) / t2.total)) AS h
        FROM lm CROSS JOIN (SELECT SUM(n) AS total FROM joint) t2
    ) DISTINCT_H
    """,
)
def mutual_information_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in bits, with the lang
    entropy H(lang) alongside (so the normalized share I/H is one
    division away) — the information-theoretic association measure
    completing the family: χ² tests significance, Cramér-style
    effect needs the same table, MI measures the INFORMATION one
    column carries about the other, the criterion feature selection
    and dedup-key audits actually want.

    Everything folds off ONE |lang|×|source| joint aggregate: the
    marginals are aggregates OVER the joint matrix, and the MI sum
    runs over its cells (≤ a few hundred rows). p·log2 terms are
    computed from exact integer counts on both engines and only the
    final sums round; zero-count cells never appear (GROUP BY emits
    observed cells only), so no log(0) guards are needed."""
    d = load_table(spark, sf_dir, "documents")
    joint = d.groupBy("lang", "source").agg(F.count("*").alias("n"))
    joint = joint.localCheckpoint()  # one corpus scan feeds 4 derivations
    tot = joint.agg(F.sum("n").alias("total"))
    lm = joint.groupBy("lang").agg(F.sum("n").alias("n_lang"))
    sm = joint.groupBy("source").agg(F.sum("n").alias("n_src"))
    h_lang = (
        lm.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("n_lang").cast("double") / F.col("total"))
                * F.log2(F.col("n_lang").cast("double") / F.col("total"))
            ).alias("h")
        )
    )
    mi_term = (F.col("n").cast("double") / F.col("total")) * F.log2(
        F.col("n").cast("double")
        * F.col("total")
        / (F.col("n_lang").cast("double") * F.col("n_src"))
    )
    return (
        joint.join(lm, "lang")
        .join(sm, "source")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(h_lang))
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.round(F.sum(mi_term), 4).alias("mi_bits"),
            F.round(-F.max("h"), 4).alias("h_lang"),
        )
    )
