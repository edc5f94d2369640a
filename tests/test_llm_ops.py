"""Property tests for the non-SQL-checkable LLM-pipeline operators:
LSH recall vs exact ground truth, determinism under re-run, and the
multimodal plumbing invariants."""

from __future__ import annotations

import pytest

from impala_refresher_spark.operators.dedup import (
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
    minhash_signatures,
)
from impala_refresher_spark.operators.multimodal import (
    decode_image,
    media_table,
    multimodal_features,
)
from impala_refresher_spark.operators.similarity import ann_lsh_topk, cosine_topk
from impala_refresher_spark.sources.tables import load_table


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.collect()}


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """LSH candidates verified at the same threshold must recover a
    high fraction of the exact-Jaccard pairs (8 bands x 4 rows at
    t=0.4 ⇒ pair-catch probability >99% for j>=0.5)."""
    exact = _pairs(dedup_ngram_jaccard(spark, sf_dir))
    lsh = _pairs(dedup_minhash_lsh(spark, sf_dir))
    assert lsh <= exact | lsh  # sanity
    # no false positives: LSH output is exact-verified, so every pair
    # it emits must be a true pair
    assert lsh <= exact
    if exact:
        recall = len(lsh & exact) / len(exact)
        assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(exact)} true pairs"


def test_minhash_signatures_deterministic(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").limit(50)
    s1 = {r.doc_id: r.sig for r in minhash_signatures(d).collect()}
    s2 = {r.doc_id: r.sig for r in minhash_signatures(d).collect()}
    assert s1 == s2


def test_simhash_pairs_are_symmetric_free_and_bounded(spark, sf_dir):
    rows = dedup_simhash(spark, sf_dir).collect()
    seen = set()
    for r in rows:
        assert r.doc_a < r.doc_b  # canonical orientation, no dup pairs
        assert 0 <= r.hamming <= 3
        assert (r.doc_a, r.doc_b) not in seen
        seen.add((r.doc_a, r.doc_b))


def test_ann_ivf_shape_and_ranking(spark, sf_dir):
    """IVF output: per query, ranks are 1..k contiguous and cos_sim is
    non-increasing along the rank — the re-rank stage must order by
    the EXACT similarity, whatever the probe set returned."""
    from impala_refresher_spark.operators.similarity import ann_ivf_topk

    rows = ann_ivf_topk(spark, sf_dir).collect()
    assert rows, "IVF probe returned no candidates"
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r.vec_id != q for r in rs)  # never returns the query itself


def test_ann_lsh_subset_of_bruteforce_space(spark, sf_dir):
    """ANN results must be real vectors with correctly-computed cosine
    (spot-check against the brute-force top-k for query 0)."""
    ann = ann_lsh_topk(spark, sf_dir)
    rows = [r for r in ann.collect() if r.q_id == 0]
    brute = {r.vec_id: r.cos_sim for r in cosine_topk(spark, sf_dir).collect()}
    for r in rows:
        if r.vec_id in brute:
            assert abs(r.cos_sim - brute[r.vec_id]) < 1e-9


def test_media_table_schema_and_batching(spark, sf_dir):
    mt = media_table(spark, sf_dir)
    assert dict(mt.dtypes)["media"] == "binary"
    assert mt.schema["meta"].dataType.typeName() == "struct"
    feats = multimodal_features(spark, sf_dir)
    rows = feats.collect()
    assert len(rows) == mt.count()
    for r in rows[:20]:
        assert r.modality in ("image", "audio", "video")
        assert 64 <= r.width < 128 and 64 <= r.height < 128
        assert r.byte_sum_16 > 0


def test_decode_image_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, D~E must yield components {A,B,C} and {D,E} — the
    transitive collapse pairwise dedup alone cannot express."""
    from impala_refresher_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "a long, b long")
    got = {r.node: r.label for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_ann_pq_recall_and_ranking(spark, sf_dir):
    """PQ: ranks contiguous, exact-reranked sims non-increasing, and
    recall@10 vs brute force for query 0 is well above chance — the
    ADC candidate stage must surface most true neighbours."""
    from impala_refresher_spark.operators.similarity import ann_pq_topk

    rows = ann_pq_topk(spark, sf_dir).collect()
    assert rows, "PQ scan returned no candidates"
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == set(range(5))
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rk)
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        sims = [r.cos_sim for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r.vec_id != q for r in rs)
    brute = {r.vec_id for r in cosine_topk(spark, sf_dir).collect()}
    got0 = {r.vec_id for r in by_q[0]}
    assert len(got0 & brute) >= 4  # recall@10 >= 0.4 for the checked query


def test_approx_percentiles_within_epsilon_of_exact(spark, sf_dir):
    """The sketch percentiles must land within a small relative error
    of the exact sort-based ones — the accuracy contract that makes
    the bounded-memory sketch a valid substitute at scale."""
    from impala_refresher_spark.operators.relational import (
        agg_approx_percentiles,
        agg_percentiles,
    )

    exact = {r.l_returnflag: (r.p50, r.p95) for r in agg_percentiles(spark, sf_dir).collect()}
    approx = {
        r.l_returnflag: (r.p50_approx, r.p95_approx)
        for r in agg_approx_percentiles(spark, sf_dir).collect()
    }
    assert set(exact) == set(approx)
    for flag, (p50, p95) in exact.items():
        a50, a95 = approx[flag]
        assert abs(a50 - p50) / p50 < 0.01, (flag, a50, p50)
        assert abs(a95 - p95) / p95 < 0.01, (flag, a95, p95)


def test_aqp_estimate_close_to_exact(spark, sf_dir):
    """The 1/16-sample Horvitz-Thompson estimates must land near the
    exact per-flag aggregates — the accuracy contract that makes the
    sample a valid exploratory substitute. Bound: 4/sqrt(n_sampled)
    relative error (≈4 sigma for totals whose per-row values are
    bounded), loose enough to be deterministic-stable, tight enough
    to catch a wrong scale factor instantly."""
    from impala_refresher_spark.operators.analytics import aqp_revenue_estimate
    from pyspark.sql import functions as F
    from impala_refresher_spark.sources.tables import load_table

    est = {r.l_returnflag: r for r in aqp_revenue_estimate(spark, sf_dir).collect()}
    exact = {
        r.l_returnflag: r
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_rows"), F.sum("l_extendedprice").alias("revenue"))
        .collect()
    }
    assert set(est) == set(exact)
    for flag, e in est.items():
        x = exact[flag]
        tol = 4.0 / (e.n_sampled ** 0.5)
        assert abs(e.est_rows - x.n_rows) / x.n_rows < tol, (flag, e.est_rows, x.n_rows)
        assert abs(e.est_revenue - x.revenue) / x.revenue < tol, (
            flag, e.est_revenue, x.revenue,
        )


def test_weighted_reservoir_favors_long_docs(spark, sf_dir):
    """Length-weighted sampling must overrepresent long documents:
    the sampled mean n_chars should exceed the corpus mean (the
    size-biased-mean property of probability-proportional-to-size
    draws). Also: exactly 5 per language, ranks contiguous."""
    from impala_refresher_spark.operators.pipeline import sample_weighted_reservoir
    from impala_refresher_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    rows = sample_weighted_reservoir(spark, sf_dir).collect()
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.rank)
    for lang, ranks in by_lang.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), lang
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .agg(F.avg("n_chars"))
        .collect()[0][0]
    )
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


def test_hll_sketch_rollup_matches_exact_distinct(spark, sf_dir):
    """The MAX-merge of daily HLL register tables must estimate
    per-type distinct users within the sketch's error envelope
    (m=1024 → rse ≈ 3.3%; the 10% bound is ~3σ), proving the
    two-level rollup loses no accuracy vs a single-pass sketch."""
    from pyspark.sql import functions as F

    from impala_refresher_spark.operators.rollup_hypertable import hll_sketch_rollup
    from impala_refresher_spark.sources.tables import load_table

    got = {r.event_type: r.approx_users for r in hll_sketch_rollup(spark, sf_dir).collect()}
    exact = {
        r.event_type: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for et, est in got.items():
        assert abs(est - exact[et]) / exact[et] <= 0.10, (et, est, exact[et])


def test_hll_small_range_correction_boundary_margin():
    """The only float in the portable HLL estimator is the linear-
    counting term m*ln(m/V). Its domain is FINITE (V in 1..m-1), so
    exhaustively prove no value sits near an integer-rounding .5
    boundary: the closest approach must exceed cross-engine libm
    jitter by orders of magnitude (docstring claims 6.7e-6)."""
    import math

    from impala_refresher_spark.operators.rollup_hypertable import _HLL_M

    worst = min(
        abs((_HLL_M * math.log(_HLL_M / v)) % 1.0 - 0.5) for v in range(1, _HLL_M)
    )
    assert worst > 1e-9, worst


def test_hll_native_sketch_agrees_with_portable(spark, sf_dir):
    """Spark's native DataSketches path (`hll_sketch_agg` per day →
    `hll_union_agg` across days) is the production drop-in for the
    portable register table — same mergeable algebra over opaque
    bytes. Both estimators must land within their combined error
    envelopes of each other (native lgK=12 ~1.6% + portable ~3.3%;
    10% bound is generous), keeping the native API demonstrated even
    though its engine-specific bytes cannot be DuckDB-oracled."""
    from pyspark.sql import functions as F

    from impala_refresher_spark.operators.rollup_hypertable import hll_sketch_rollup
    from impala_refresher_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "events")
    native = {
        r.event_type: r.approx_users
        for r in e.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"))
        .collect()
    }
    portable = {
        r.event_type: r.approx_users for r in hll_sketch_rollup(spark, sf_dir).collect()
    }
    assert set(native) == set(portable)
    for et in native:
        assert abs(native[et] - portable[et]) <= max(0.10 * native[et], 3.0), (
            et, native[et], portable[et],
        )


def test_gopher_gate_plan_matches_battery_flags(spark, sf_dir):
    """The aggregate-form gate (gopher_gate_ids) and the map-only HOF
    battery (quality_gopher_rules) are two plans for ONE rule set —
    they must admit exactly the same documents. (The battery's flags
    are filtered client-side here: filtering the battery IN-PLAN is
    the 365x pushdown trap the gate exists to avoid.)"""
    from impala_refresher_spark.operators.text import (
        gopher_gate_ids,
        quality_gopher_rules,
    )
    from impala_refresher_spark.sources.tables import load_table

    gate = {r.doc_id for r in gopher_gate_ids(load_table(spark, sf_dir, "documents")).collect()}
    battery = {
        r.doc_id for r in quality_gopher_rules(spark, sf_dir).collect() if r.passes_gopher
    }
    assert gate == battery and len(gate) > 0


def test_cms_estimate_never_undercounts(spark):
    """Count-min guarantee: the sketch estimate is >= the true count
    for every probed key (min over hashed cells can only overcount)."""
    from impala_refresher_spark.operators.rollup_hypertable import (
        cms_frequency_estimate,
    )
    from tests.conftest import SF_SMOKE

    rows = cms_frequency_estimate(spark, SF_SMOKE).collect()
    assert rows, "probe set empty"
    for r in rows:
        assert r.cms_n >= r.exact_n, (r.probe_key, r.cms_n, r.exact_n)
        assert r.overcount == r.cms_n - r.exact_n


def test_bfs_root_and_monotone_frontier(spark):
    """BFS invariants: the root is at distance 0, every other reached
    node's distance is 1 + the min distance over its in-neighbours
    (frontier expansion can't skip a hop)."""
    from impala_refresher_spark.operators.graph import bfs_event_transitions
    from tests.conftest import SF_SMOKE

    rows = bfs_event_transitions(spark, SF_SMOKE).collect()
    dist = {r.node: r.dist for r in rows}
    assert dist.get("signup") == 0
    assert all(d >= 0 for d in dist.values())
    assert sorted(set(dist.values())) == list(range(max(dist.values()) + 1))


def test_ann_recall_scoreboard_shape_and_bounds(spark, sf_dir):
    """Structural contract: one row per (index, query) — 3 x 5 — with
    0 <= n_hits <= k, recall = n_hits/k, and every index's hit set a
    subset of its own top-k join against exact by construction."""
    from impala_refresher_spark.operators.similarity import (
        _RECALL_K,
        ann_recall_at_k,
    )

    rows = ann_recall_at_k(spark, sf_dir).collect()
    assert len(rows) == 15
    by_index = {}
    for r in rows:
        assert 0 <= r.n_hits <= _RECALL_K
        assert r.recall_at_k == round(r.n_hits / _RECALL_K, 4)
        by_index.setdefault(r.index_name, set()).add(r.q_id)
    assert {k: len(v) for k, v in by_index.items()} == {
        "lsh": 5, "ivf": 5, "pq": 5,
    }


def test_dedup_quality_scoreboard_python_model(spark, sf_dir):
    """The scoreboard's precision/recall must equal a pure-python
    recount over its own component outputs (truth = exact-Jaccard
    pairs, detected = each detector's pairs) — and minhash_lsh's
    verified-subset construction forces precision exactly 1.0 with
    its hit set equal to its detected set."""
    from impala_refresher_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_ngram_jaccard,
        dedup_quality_scoreboard,
        dedup_simhash,
    )

    truth = {
        (r.doc_a, r.doc_b)
        for r in dedup_ngram_jaccard(spark, sf_dir).collect()
    }
    detected = {
        "minhash_lsh": {
            (r.doc_a, r.doc_b) for r in dedup_minhash_lsh(spark, sf_dir).collect()
        },
        "simhash": {
            (r.doc_a, r.doc_b) for r in dedup_simhash(spark, sf_dir).collect()
        },
    }
    # Spark's round() is HALF_UP; python's is banker's — they diverge
    # on exact 5-decimal ties (k/2^a5^b ratios), so model Spark's.
    from decimal import ROUND_HALF_UP, Decimal

    def r4(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )

    rows = {r.detector: r for r in dedup_quality_scoreboard(spark, sf_dir).collect()}
    assert set(rows) == {"minhash_lsh", "simhash"}
    for det, pairs in detected.items():
        r = rows[det]
        hits = pairs & truth
        assert r.n_detected == len(pairs)
        assert r.n_truth == len(truth)
        assert r.n_hits == len(hits)
        assert r.precision == (r4(len(hits) / len(pairs)) if pairs else None)
        assert r.recall == (r4(len(hits) / len(truth)) if truth else None)
    assert rows["minhash_lsh"].precision == 1.0
    assert detected["minhash_lsh"] <= truth


def test_minhash_banding_recall_matches_collision_theory(spark, tmp_path):
    """The number that makes the scoreboard INFORMATIVE (r08 verdict
    item 3): on a synthetic near-dup corpus whose pair Jaccard sits on
    the banding S-curve's slope (~0.72, below the saturation the stock
    fixtures hit), minhash_lsh's measured recall must match the 8x4
    banding collision theory  E[1 - (1 - j^4)^8]  computed per truth
    pair from the corpus's EXACT shingle Jaccards. Deterministic:
    xxhash64 corpus + fixed minhash coefficients, so the tolerance
    encodes theory-match, not flake absorption.

    Corpus = scripts/measure_new_ops.py's shape (as of commit 41f55d4)
    at small N: 40-token
    docs over per-doc-family vocab; every 5th doc repeats its
    predecessor's seed with 2 edited tokens (positions 3 and 17), so
    planted pairs lose 6 of ~38 shingles -> j ~= 32/44 ~= 0.727."""
    from pyspark.sql import functions as F

    from impala_refresher_spark.operators.dedup import (
        dedup_quality_scoreboard,
    )

    n_docs = 2000
    seed = F.when(F.col("id") % 5 == 4, F.col("id") - 1).otherwise(F.col("id"))
    toks = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda j: F.when(
            (F.col("id") % 5 == 4) & j.isin(3, 17),
            F.concat(F.lit("e"), F.col("id").cast("string")),
        ).otherwise(
            F.concat(
                F.lit("t"),
                (F.xxhash64(seed, j) % 200_000).cast("string"),
            )
        ),
    )
    d = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", toks).alias("text")
    )
    d.write.parquet(f"{tmp_path}/documents.parquet")

    texts = {r.doc_id: r.text.split(" ") for r in d.collect()}

    def shingles(ts):
        return {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}

    planted = [(i - 1, i) for i in range(n_docs) if i % 5 == 4]
    jacs = []
    for a, b in planted:
        sa, sb = shingles(texts[a]), shingles(texts[b])
        jacs.append(len(sa & sb) / len(sa | sb))
    truth_jacs = [j for j in jacs if j >= 0.4]
    assert len(truth_jacs) == len(planted), "planted pairs must all be truth"
    predicted = sum(1 - (1 - j**4) ** 8 for j in truth_jacs) / len(truth_jacs)
    assert 0.85 < predicted < 0.97, predicted  # on the S-curve slope

    rows = {
        r.detector: r
        for r in dedup_quality_scoreboard(spark, str(tmp_path)).collect()
    }
    mh = rows["minhash_lsh"]
    assert mh.n_truth == len(truth_jacs)
    measured = mh.n_hits / mh.n_truth
    # Informative, not saturated: banding must actually miss some pairs
    assert measured < 1.0
    assert abs(measured - predicted) < 0.08, (measured, predicted)
