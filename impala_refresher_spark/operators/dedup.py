"""Deduplication operators for LLM-training corpora (SURVEY.md §2C
L1-L2 + SimHash and n-gram-Jaccard extensions).

Scale design (the part that matters at 100 TB):

- Exact dedup groups on sha256(text), never on the text itself — the
  shuffle carries 32-byte keys, not documents.
- MinHash-LSH is the standard near-dup pipeline (shingle → k minhash
  values → band → bucket-join): candidate generation is a self-join
  on (band_id, band_hash) buckets, so cost is sum of bucket sizes
  squared — tune (bands, rows) to the similarity threshold, salt
  runaway buckets. Verification (exact Jaccard on candidates) touches
  only candidate pairs.
- The exact pairwise n-gram Jaccard here is the *oracle-checkable*
  ground truth; its prune (pairs must share a shingle) is itself the
  LSH idea with one band per shingle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from impala_refresher_spark.registry import query
from impala_refresher_spark.sources.tables import fan_out, load_table

# MinHash parameters: 32 hash functions = 8 bands x 4 rows.
# Threshold heuristic: t ~ (1/b)^(1/r) = (1/8)^(1/4) ~ 0.59.
_MINHASH_K = 32
_BANDS = 8
_ROWS_PER_BAND = 4
# Mersenne-31 modulus keeps every intermediate product < 2^62, so the
# permutation arithmetic never overflows a long (Spark 4 runs ANSI
# mode: overflow is an error, not a wrap).
_MERSENNE = (1 << 31) - 1
# Deterministic multipliers/offsets in [1, p), seeded.
_AS = [(i * 0x9E3779B1 + 1) % _MERSENNE or 1 for i in range(1, _MINHASH_K + 1)]
_BS = [(i * 0x85EBCA77 + 7) % _MERSENNE for i in range(1, _MINHASH_K + 1)]

# Document-frequency cutoff for the exact-Jaccard inverted index: a
# posting list longer than this is dropped before pair generation
# (quadratic blowup guard for hot/stopword shingles at scale). The
# fixture's max df is 25, so results are unaffected at test SFs.
_MAX_DF = 1000


def _shingles(col):
    """Word 3-gram shingles as an array column (deduplicated).

    Arity is fixed at 3 — the only one this package uses, and the zip
    chain below is written for it (r06 ADVICE: the former ``n``
    parameter promised a generality the implementation asserted away).

    Built by zipping the token array with its own 1- and 2-shifted
    slices — every reference to the split is a ROW-level argument, so
    the text splits a constant number of times per document. The
    previous `transform(sequence(...)) -> element_at(toks, i+j)` form
    referenced the split expression inside the lambda body, which
    Spark re-evaluates per ELEMENT ACCESS — 3n re-splits per doc,
    measured 1.9x slower on the corpus-wide shingle pass (the same
    per-element re-evaluation trap `fingerprint_winnowing` hit at
    O(n²) with md5 arrays).

    Guarded for docs shorter than n tokens (zip_with pads the short
    slices with NULL, which would otherwise yield truncated trailing
    grams — the outer slice cuts to exactly size-n+1 full grams).
    """
    n = 3
    toks = F.split(col, " ")
    size = F.size(toks)
    g = F.zip_with(
        F.zip_with(
            toks, F.slice(toks, 2, size), lambda x, y: F.concat_ws(" ", x, y)
        ),
        F.slice(toks, 3, size),
        lambda xy, z: F.concat_ws(" ", xy, z),
    )
    grams = F.slice(g, 1, size - (n - 1))
    empty = F.array().cast("array<string>")
    return F.when(size >= n, F.array_distinct(grams)).otherwise(empty)


# DuckDB twin of `_shingles`: one (doc_id, shingle) row per distinct
# word 3-gram of each document — the `sh` CTE every shingle oracle
# opens with.
_SQL_SHINGLES = """sh AS (
      SELECT doc_id, unnest(list_distinct(
               list_transform(list_zip(toks[1:-3], toks[2:-2], toks[3:-1]),
                              p -> p[1] || ' ' || p[2] || ' ' || p[3]))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )"""


def _posting_pairs(rel: DataFrame, keys: list[str], member, ids: str, pair) -> DataFrame:
    """Posting-list pair emission without a self-join: group ``rel``
    into one sorted ``member`` list (column ``ids``) per ``keys``
    bucket, drop singleton and hot (> `_MAX_DF`) lists, and explode
    every in-list pair as ``p = pair(x, y)``, x sorted before y. The
    sort puts the pair in (lower, higher) order, so ``doc_a < doc_b``
    holds without a filter; a list of width d emits d·(d-1)/2 pairs
    map-side."""
    posting = (
        rel.groupBy(*keys)
        .agg(F.sort_array(F.collect_list(member)).alias(ids))
        .filter((F.size(ids) > 1) & (F.size(ids) <= _MAX_DF))
    )
    arr = F.col(ids)
    return posting.select(
        F.explode(
            F.flatten(
                F.transform(
                    arr,
                    lambda x, i: F.transform(
                        F.slice(arr, i + 2, F.size(arr)), lambda y: pair(x, y)
                    ),
                )
            )
        ).alias("p")
    )


def _sized_pair(x, y) -> Column:
    """(doc_a, doc_b, n_a, n_b) from two (id, n) posting members."""
    return F.struct(
        x["id"].alias("doc_a"),
        y["id"].alias("doc_b"),
        x["n"].alias("n_a"),
        y["n"].alias("n_b"),
    )


# ---------------------------------------------------------------------------
# L1 — exact dedup
# ---------------------------------------------------------------------------

@query(
    "dedup_exact",
    """
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup with deterministic survivor (min doc_id per
    text). dropDuplicates picks an arbitrary row — don't use it when
    lineage matters."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies")
    ).select("keep_doc_id", "n_copies")


@query(
    "dedup_exact_hash",
    """
    SELECT sha256(text) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 at scale: group on sha256(text) so the shuffle key is 32
    bytes regardless of document size. Collision probability is
    negligible (2^-128 scale); pipelines that can't accept it verify
    within groups afterwards."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.sha2("text", 256).alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity join — exact, oracle-checked ground truth
# ---------------------------------------------------------------------------

def _ngram_jaccard_oracle() -> str:
    """DuckDB twin of `dedup_ngram_jaccard` — a function (r08) so the
    scoreboard below can nest the exact-Jaccard truth as a CTE."""
    return f"""
    WITH {_SQL_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    sh_ok AS (SELECT shingle FROM sh GROUP BY shingle
              HAVING COUNT(*) <= {_MAX_DF}),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh_ok ok ON ok.shingle = a.shingle
      JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.4
    """


def _shingled(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: array<string>) — the corpus shingle arrays, the
    shared shingle projection at the front of the Jaccard-truth and
    MinHash pipelines. (Each scoreboard branch derives its own copy
    inside its own codegen stages: sharing ONE checkpointed shingle
    pass across branches was A/B'd and rejected in r09 — a wash
    locally and a corpus-sized materialized intermediate at scale.)"""
    return docs.select("doc_id", _shingles(F.col("text")).alias("sh"))


def _jaccard_pairs(sh_arr: DataFrame) -> DataFrame:
    """`dedup_ngram_jaccard`'s pair pipeline from pre-built shingle
    arrays (see the query docstring for the plan rationale)."""
    sh = sh_arr.select(
        F.struct(F.col("doc_id").alias("id"), F.size("sh").alias("n")).alias("doc"),
        F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("shingle"),
    )
    # sort_array orders the structs by id (first field), so pair
    # emission preserves doc_a < doc_b.
    inter = (
        _posting_pairs(sh, ["shingle"], "doc", "ids", _sized_pair)
        .select("p.*")
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return inter.filter(jac >= 0.4).select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))


@query("dedup_ngram_jaccard", _ngram_jaccard_oracle())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard similarity join, threshold 0.4, via an
    inverted index WITHOUT a self-join: group shingles into posting
    lists, generate each list's id-pairs in place with higher-order
    functions, then COUNT per pair = |A∩B| and jaccard from set sizes.

    Why not the textbook explode-and-self-join: that plan shuffles the
    exploded shingle relation twice (once per join side) and
    recomputes the tokenize+shingle projection for both branches. The
    posting-list plan shuffles it once (groupBy shingle), emits the
    d·(d-1)/2 pairs per posting list map-side, and goes straight into
    the pair-count aggregate — measured 5x faster at sf0.1 (15s → 3s,
    5000 docs / 260k shingles).

    Scale guard: a posting list of df=d makes d²/2 structs in one
    array, so Zipfian/hot shingles (stopword 3-grams) need the df
    cutoff below (_MAX_DF) — dropping ubiquitous shingles loses only
    intersections that contribute negligibly to jaccard >= 0.4 pairs
    when df >> typical doc length. The oracle replicates the cutoff
    (sh_ok HAVING COUNT(*) <= _MAX_DF, excluded from INTERSECTIONS
    only — set sizes stay full, exactly like the engine, which caps
    posting lists after the per-doc shingle count is already packed
    into the struct), so engine and oracle agree even past the cap
    (r07: the same parity fix the r06 ADVICE asked of winnowing).
    MinHash-LSH below is the alternative 100 TB path.
    """
    # Each shingle row carries its document's (id, |shingles|) struct:
    # +8 bytes per shuffled row buys a completely JOIN-FREE tail — the
    # pair stage emits (doc_a, doc_b, n_a, n_b) directly, so jaccard
    # needs no size-lookup joins and the shingle arrays are computed
    # exactly once (measured 4x on the end-to-end query: 5s → 1.2s at
    # sf0.1). Shuffle an 8-byte xxhash64 of the shingle, not the
    # 3-word string (collision odds ~1e-7 even at 1e9 shingles).
    # (Pipeline body lives in _jaccard_pairs so the scoreboard can
    # feed it a shared, checkpointed shingle pass.)
    return _jaccard_pairs(_shingled(fan_out(load_table(spark, sf_dir, "documents"))))


@query(
    "quote_containment_join",
    f"""
    WITH {_SQL_SHINGLES},
    snip AS (
      SELECT doc_id AS snip_id, unnest(list_distinct(
               list_transform(list_zip(p[1:-3], p[2:-2], p[3:-1]),
                              q -> q[1] || ' ' || q[2] || ' ' || q[3]))) AS shingle
      FROM (SELECT doc_id, (string_split(text, ' '))[1:12] AS p
            FROM documents WHERE doc_id % 7 = 0)
    ),
    ssizes AS (SELECT snip_id, COUNT(*) AS n_s FROM snip GROUP BY snip_id),
    hits AS (
      SELECT s.snip_id, c.doc_id, COUNT(*) AS n_hit
      FROM snip s JOIN sh c ON c.shingle = s.shingle
      GROUP BY 1, 2
    )
    SELECT snip_id, doc_id,
           ROUND(CAST(n_hit AS DOUBLE) / n_s, 4) AS containment
    FROM hits JOIN ssizes USING (snip_id)
    WHERE CAST(n_hit AS DOUBLE) / n_s >= 0.8
    """,
)
def quote_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment (quote-detection) join: which corpus
    documents CONTAIN each snippet — containment = |snip ∩ doc| /
    |snip| >= 0.8 over 3-gram shingles, the direction Jaccard misses
    (a short quote embedded in a long doc dilutes |A∪B|, so the
    symmetric score stays low while the snippet is fully covered).
    The snippet relation here is derived in-query (the first 12
    tokens of every 7th document — each snippet provably matches at
    least its source doc and that doc's exact dups, so the check is
    never vacuous); a real pipeline feeds its quote/eval-fragment
    table instead.

    Scale shape: the snippet side is tiny next to the corpus, so its
    exploded shingles BROADCAST against the corpus shingle stream —
    ONE corpus scan, no corpus reshuffle (the groupBy shuffles only
    snippet-hit rows, bounded by |snippets| x df), the same
    small-side-broadcast discipline as `decontaminate_train_set`. The
    containment threshold compares a raw integer-ratio double both
    engines compute bit-identically.

    No reference analog (refresh orchestration only;
    /root/reference/impala-refresher.go:46-181)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    corpus = d.select(
        "doc_id", F.explode(_shingles(F.col("text"))).alias("shingle")
    )
    prefix = F.concat_ws(" ", F.slice(F.split("text", " "), 1, 12))
    snip = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select(
            F.col("doc_id").alias("snip_id"),
            _shingles(prefix).alias("ssh"),
        )
        .select(
            F.struct(
                F.col("snip_id").alias("id"), F.size("ssh").alias("n_s")
            ).alias("s"),
            F.explode("ssh").alias("shingle"),
        )
    )
    hits = (
        corpus.join(F.broadcast(snip), "shingle")
        .groupBy(F.col("s.id").alias("snip_id"), "doc_id", F.col("s.n_s").alias("n_s"))
        .agg(F.count("*").alias("n_hit"))
    )
    cont = F.col("n_hit").cast("double") / F.col("n_s")
    return hits.filter(cont >= 0.8).select(
        "snip_id", "doc_id", F.round(cont, 4).alias("containment")
    )


# ---------------------------------------------------------------------------
# L2 — MinHash + LSH banding (the scale path; rows-only check)
# ---------------------------------------------------------------------------

def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long>) — k minhash values per document.

    Shingle hashing is the first 60 bits of md5 (engine-portable hex,
    the `dedup_simhash` discipline) reduced mod Mersenne31; each of
    the k permutations is (a*h + b) mod Mersenne31 with every
    intermediate < 2^62 (ANSI-safe, identical integer arithmetic on
    both engines — which is what makes the LSH pipeline
    oracle-checkable). All codegen — the only shuffle is the final
    groupBy(doc_id). At raw-throughput scale swap xxhash64 back in;
    the plan shape is hash-agnostic.

    Measured note: a shuffle-free alternative (array_min over
    higher-order transforms of the shingle array) is 3x SLOWER here
    despite the saved exchange — transform/aggregate lambdas are
    interpreted per element, while explode + 32 min() aggregates run
    fully inside whole-stage codegen. Prefer the codegen'd shuffle.
    """
    # NOTE: the generator consumes the shingle expression INLINE.
    # Projecting the array to a named column first and exploding that
    # (select(sh) -> explode(sh)) does NOT collapse back: the plan
    # keeps an extra Project that serializes every shingle array into
    # an UnsafeRow before Generate — measured 2x on this pass
    # (0.75 s -> 1.48 s at sf0.1, r09 A/B).
    sh = docs.select("doc_id", F.explode(_shingles(F.col("text"))).alias("shingle"))
    h = F.pmod(
        F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long"),
        F.lit(_MERSENNE),
    )
    mins = [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE)).alias(f"h{i}")
        for i, (a, b) in enumerate(zip(_AS, _BS))
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select("doc_id", F.array(*[f"h{i}" for i in range(_MINHASH_K)]).alias("sig"))


def _sql_minhash_bands() -> str:
    """DuckDB twin of `minhash_signatures` + `_band_keys`: the
    ``hashed``, ``sig`` and ``bands`` CTEs over the ``sh`` shingle CTE
    — one (doc_id, band_id, x0..x3) row per band, bucketing on the
    exact 4-tuple of the band's minhash values."""
    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {_MERSENNE}) AS h{i}"
        for i, (a, b) in enumerate(zip(_AS, _BS))
    )
    band_selects = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + ", ".join(
            f"h{b * _ROWS_PER_BAND + r} AS x{r}" for r in range(_ROWS_PER_BAND)
        )
        + " FROM sig"
        for b in range(_BANDS)
    )
    return f"""hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_MERSENNE} AS h
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    )"""


def _minhash_lsh_oracle() -> str:
    """Generated DuckDB twin of `dedup_minhash_lsh`: the md5-based
    shingle hash and exact-tuple banding make the ENTIRE LSH pipeline
    deterministic integer arithmetic both engines agree on."""
    on_tuple = " AND ".join(
        ["a.band_id = {t}.band_id"] + [f"a.x{r} = {{t}}.x{r}" for r in range(_ROWS_PER_BAND)]
    )
    return f"""
    WITH {_SQL_SHINGLES},
    {_sql_minhash_bands()},
    ok_buckets AS (
      SELECT band_id, x0, x1, x2, x3
      FROM bands GROUP BY band_id, x0, x1, x2, x3
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_MAX_DF}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN ok_buckets o ON {on_tuple.format(t="o")}
      JOIN bands b ON {on_tuple.format(t="b")} AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(n_inter AS DOUBLE)
                 / (sa.n_sh + sb.n_sh - n_inter), 4) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE ROUND(CAST(n_inter AS DOUBLE)
                / (sa.n_sh + sb.n_sh - n_inter), 4) >= 0.4
    ORDER BY i.doc_a, i.doc_b
    """


@query("dedup_minhash_lsh", _minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2: MinHash-LSH near-dup pairs, verified by exact Jaccard on
    the candidates.

    Pipeline: shingle → 32 minhashes → 8 bands of 4 → band-bucket
    self-join → exact-Jaccard verify ≥ 0.4. Candidate generation cost
    is bounded by bucket sizes (not corpus²); at 100 TB you salt hot
    buckets and cap bucket width.

    Oracle-checkable since r04: the shingle hash is md5-derived (the
    portable-hash discipline — see `minhash_signatures`), and bands
    bucket on the EXACT 4-tuple of minhash values rather than a
    compressed band hash. Tuple banding is what the band hash only
    approximated (a band collision now IS equality of the band's
    signature slice, with zero false-positive bucket collisions), and
    it is expressible on both engines, so the whole
    shingle→signature→band→verify pipeline runs under the SQL
    differential. The recall contract vs `dedup_ngram_jaccard`'s
    exact pairs stays in tests/test_llm_ops.py.
    """
    return _minhash_lsh_pairs(fan_out(load_table(spark, sf_dir, "documents")))


def _band_keys(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash): one row per band of each
    signature, keyed on the EXACT ``:``-joined tuple of the band's
    `_ROWS_PER_BAND` minhash values (no compressed band hash, so a
    bucket collision is equality of the signature slice)."""
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        *[
                            F.element_at("sig", band * _ROWS_PER_BAND + r + 1)
                            for r in range(_ROWS_PER_BAND)
                        ],
                    )
                    for band in range(_BANDS)
                ]
            )
        ).alias("band_id", "band_hash"),
    )


def _verify_candidates(
    docs: DataFrame, candidates: DataFrame, ids: DataFrame, a: str, b: str
) -> tuple[DataFrame, Column]:
    """Exact-Jaccard verification of candidate pairs ``(a, b)``:
    semi-join the corpus down to the candidate ``ids`` BEFORE
    materializing shingle arrays, so verification cost is
    O(candidates), not a full-corpus array shuffle (candidate ids are
    KB-sized next to the corpus, so they broadcast; the shingle arrays
    for non-candidates are never built or moved). Returns the
    candidates joined to both sides' arrays and their Jaccard ratio."""
    sh = docs.join(F.broadcast(ids), "doc_id", "left_semi").select(
        "doc_id", _shingles(F.col("text")).alias("sh")
    )
    sa = sh.select(F.col("doc_id").alias(a), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias(b), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b"))
    return candidates.join(sa, a).join(sb, b), inter / union


def _minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """`dedup_minhash_lsh`'s pipeline from a documents relation:
    signature → band-bucket candidates → exact-Jaccard verify (the
    verify side re-shingles only the semi-joined candidates)."""
    bands = _band_keys(minhash_signatures(docs))
    # Bucket pair generation without a self-join (same posting-list
    # trick as dedup_ngram_jaccard): one shuffle on the bucket key,
    # pairs emitted in place, bucket width capped against hot buckets.
    candidates = (
        _posting_pairs(
            bands,
            ["band_id", "band_hash"],
            "doc_id",
            "ids",
            lambda x, y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        )
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
        # The candidate set feeds BOTH the broadcast id filter and the
        # final verify join; without a checkpoint Spark re-evaluates
        # the whole shingle→minhash→band pipeline once per consumer.
        # Candidates are bucket-width-capped (KB-to-MB at any scale),
        # so an eager local checkpoint trades a tiny materialization
        # for running the corpus-sized LSH pipeline exactly once.
        .localCheckpoint()
    )
    cand_ids = (
        candidates.select(F.col("doc_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    pairs, jaccard = _verify_candidates(docs, candidates, cand_ids, "doc_a", "doc_b")
    return (
        pairs.withColumn("jaccard", F.round(jaccard, 4))
        .filter(F.col("jaccard") >= 0.4)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS) — local fingerprint selection + match join
# ---------------------------------------------------------------------------

# Winnowing window width: every substring match of at least
# w + k - 1 = 6 tokens is guaranteed to share a selected fingerprint
# (Schleimer/Wilkerson/Aiken, SIGMOD 2003).
_WINNOW_W = 4


@query(
    "fingerprint_winnowing",
    f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    grams AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(t) - 2),
               i -> ('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))::BIGINT) AS h
      FROM toks
    ),
    win AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(h) - {_WINNOW_W - 1}, 1)),
               i -> list_min(h[i:i+{_WINNOW_W - 1}]))) AS fp_list
      FROM grams
    ),
    fps AS (SELECT doc_id, len(fp_list) AS n_fp, unnest(fp_list) AS fp FROM win),
    fp_ok AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= {_MAX_DF}),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared,
             CAST(MAX(a.n_fp) AS BIGINT) AS n_fp_a,
             CAST(MAX(b.n_fp) AS BIGINT) AS n_fp_b
      FROM fps a JOIN fp_ok ok ON ok.fp = a.fp
      JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared, n_fp_a, n_fp_b
    FROM shared WHERE n_shared >= 2
    """,
)
def fingerprint_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm, Schleimer
    et al. SIGMOD 2003): hash every token 3-gram, slide a width-4
    window over the hash SEQUENCE (positional, not deduplicated —
    unlike `_shingles`), keep each window's minimum, and match
    documents on shared selected fingerprints. The selection guarantee
    is LOCAL: any shared token run of length >= w+k-1 = 6 contributes
    a common fingerprint, while storage is ~2/(w+1) of all grams — the
    standard plagiarism / boilerplate detector, complementary to
    MinHash (global similarity) and `doc_fingerprint` (whole-doc).

    Spark-first shape: gram hashing is ONE higher-order-function pass
    (the hash array evaluates once per document — a nested
    `array_min(slice(h, i, w))` HOF would re-evaluate the whole md5
    array per WINDOW, measured O(n²): 23 s vs 1 s at sf0.01), then the
    sliding minimum is a row-grain `min() OVER (PARTITION BY doc ORDER
    BY pos ROWS CURRENT..w-1)` on the posexploded hashes. The
    collect_set aggregate that rebuilds per-doc fingerprint sets
    reuses the window's doc-grain hashpartitioning, so selection costs
    exactly one bounded keyed exchange. Keeping only the min VALUE per
    window (not its position) makes the output tie-order-free and
    therefore oracle-checkable. The match join reuses the
    `dedup_ngram_jaccard` posting-list idiom: pairs are emitted in
    place from each fingerprint's sorted id list (no exploded
    self-join), with the `_MAX_DF` quadratic-blowup guard for
    boilerplate fingerprints at scale — replicated on the oracle side
    as an `fp_ok HAVING COUNT(*) <= _MAX_DF` CTE (r06 ADVICE), so
    engine and oracle agree even when a fingerprint's document
    frequency exceeds the cap (>1000 exact boilerplate copies). Hashes use the portable
    md5-60-bit discipline; output is INTEGER-only (shared/total
    fingerprint counts), so there is no cross-engine float surface at
    all.

    No reference analog (the reference is refresh orchestration only;
    /root/reference/impala-refresher.go:46-181)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    doc = d.select("doc_id", toks.alias("t")).filter(F.size("t") >= 3)
    gram_hashes = F.transform(
        F.sequence(F.lit(1), F.size("t") - 2),
        lambda i: F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        " ", *[F.element_at(F.col("t"), i + j) for j in range(3)]
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
    )
    from pyspark.sql.window import Window

    g = doc.select("doc_id", F.posexplode(gram_hashes).alias("pos", "gh"))
    win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WINNOW_W - 1)
    )
    per_doc = Window.partitionBy("doc_id")
    # full windows only (the trailing clipped frames would add
    # spurious suffix minima); a doc with fewer than w grams keeps its
    # single clipped window at pos 0 = min of all grams — the same
    # short-doc semantics as the oracle's clipped list slice
    sel = g.select(
        "doc_id",
        "pos",
        F.min("gh").over(win).alias("fp"),
        F.max("pos").over(per_doc).alias("mx"),
    ).filter(
        (F.col("pos") <= F.col("mx") - (_WINNOW_W - 1)) | (F.col("pos") == 0)
    )
    wd = sel.groupBy("doc_id").agg(F.collect_set("fp").alias("fps"))
    ex = wd.select(
        F.struct(F.col("doc_id").alias("id"), F.size("fps").alias("n")).alias(
            "doc"
        ),
        F.explode("fps").alias("fp"),
    )
    shared = (
        _posting_pairs(ex, ["fp"], "doc", "ids", _sized_pair)
        .select("p.*")
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return shared.filter(F.col("n_shared") >= 2).select(
        "doc_a",
        "doc_b",
        "n_shared",
        F.col("n_a").cast("long").alias("n_fp_a"),
        F.col("n_b").cast("long").alias("n_fp_b"),
    )


# ---------------------------------------------------------------------------
# SimHash near-dup (bitwise fingerprint; rows-only check)
# ---------------------------------------------------------------------------

def _simhash_oracle() -> str:
    """Generated DuckDB twin of `dedup_simhash` — possible because the
    bit source is md5 (identical hex on both engines), the portable-
    hash discipline of `cms_frequency_estimate` applied to strings."""
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    weights = "\n               + ".join(
        f"CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(60)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
            FROM documents)
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      FROM toks
    ),
    bits AS (
      SELECT doc_id,
             {bit_sums}
      FROM hashed GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id,
             {weights} AS simhash
      FROM bits
    ),
    chunks AS (
      SELECT doc_id, simhash, t.c AS chunk_id,
             (simhash >> (15 * t.c)) & 32767 AS chunk
      FROM fp CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS c) AS t
    ),
    ok_buckets AS (
      SELECT chunk_id, chunk
      FROM chunks GROUP BY chunk_id, chunk
      HAVING COUNT(*) > 1 AND COUNT(*) <= 1000
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM chunks a
      JOIN ok_buckets o ON o.chunk_id = a.chunk_id AND o.chunk = a.chunk
      JOIN chunks b ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk
                   AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY doc_a, doc_b
    """


@query("dedup_simhash", _simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 60-bit fingerprint where bit i is the sign of the sum
    over tokens of ±1 (from bit i of the token's hash). Near-dups =
    pairs within Hamming distance 3, found by exact match on 4
    15-bit chunks (any pair at distance ≤3 shares ≥1 exact chunk —
    the pigeonhole trick that makes SimHash joinable at scale).

    The bit source is the first 15 hex chars of md5(token) — 60 bits,
    ENGINE-PORTABLE (both engines produce identical md5 hex), so the
    ENTIRE fingerprint/bucket/verify pipeline is oracle-checked,
    upgrading this query from rows-only to SQL-differential (the
    `cms_frequency_estimate` portable-hash trade: a costlier hash
    buys a checkable answer; at raw-throughput scale swap xxhash64
    back in — the plan shape is hash-agnostic). 60 bits also keep
    every weight a positive long (no two's-complement bit-63 trick).

    Output: (doc_a, doc_b, hamming) candidate pairs, verified.
    """
    return _simhash_pairs(fan_out(load_table(spark, sf_dir, "documents")))


def _simhash_pairs(d: DataFrame) -> DataFrame:
    """`dedup_simhash`'s pipeline from a documents relation."""
    # hash ONCE per token in the projection: the 60 per-bit aggregates
    # below each reference the hash, and leaving it inline makes
    # codegen evaluate it per bit expression (60x per row)
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("token"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # r09: aggregate plain bit counts (sum of bit i) plus one row count
    # instead of 60 SUM(CASE ±1) — branch-free per-row work, and the
    # sign test is the exact integer equivalence b_i > 0 ⟺ 2·s_i > n
    # (fingerprints verified identical; ~4% on the pass at sf0.1).
    bit_sums = [
        F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"s{i}")
        for i in range(60)
    ] + [F.count("*").alias("n")]
    per_doc = toks.groupBy("doc_id").agg(*bit_sums)
    bit_weights = [
        F.when(F.col(f"s{i}") * 2 > F.col("n"), F.lit(1 << i).cast("long")).otherwise(0)
        for i in range(60)
    ]
    fp = per_doc.select(
        "doc_id",
        sum(bit_weights, F.lit(0).cast("long")).alias("simhash"),
    )
    chunks = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[F.shiftright("simhash", 15 * c).bitwiseAND(F.lit(0x7FFF)) for c in range(4)])
        ).alias("chunk_id", "chunk"),
    )
    # Posting-list pair generation (cf. dedup_ngram_jaccard): group each
    # chunk bucket once, emit pairs in place carrying BOTH fingerprints,
    # so no self-join and no join-back for the hamming verify.
    pairs = _posting_pairs(
        chunks,
        ["chunk_id", "chunk"],
        F.struct("doc_id", "simhash"),
        "members",
        lambda x, y: F.struct(
            x["doc_id"].alias("doc_a"),
            y["doc_id"].alias("doc_b"),
            x["simhash"].alias("sh_a"),
            y["simhash"].alias("sh_b"),
        ),
    )
    # Hamming-filter BEFORE the dedup shuffle: a pair sharing k>1
    # chunks appears k times, but the distinct only needs to dedup
    # VERIFIED near-dups (tiny) — filtering is map-side, so the
    # shuffle input drops from all candidates to the true positives.
    return (
        pairs.select(
            "p.doc_a",
            "p.doc_b",
            F.bit_count(F.col("p.sh_a").bitwiseXOR(F.col("p.sh_b")))
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: drop decisions from vector similarity
# ---------------------------------------------------------------------------

def _embedding_dedup_oracle() -> str:
    from impala_refresher_spark.operators.similarity import _SQL_UNIT, _sql_dot

    return f"""
    WITH u AS (SELECT vec_id, label, {_SQL_UNIT("embedding")} AS uv FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS keep_id, b.vec_id AS drop_id
      FROM u a JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_sql_dot("a.uv", "b.uv")} >= 0.35
    )
    SELECT drop_id, CAST(MIN(keep_id) AS BIGINT) AS canonical_id
    FROM pairs GROUP BY drop_id
    """


@query(
    "window_dedup_keep_first",
    """
    SELECT event_id, user_id, event_type, ts
    FROM (
      SELECT event_id, user_id, event_type, ts,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def window_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup over an event log: one surviving row per
    (user_id, event_type), the earliest by event time (event_id
    tie-break makes survival deterministic, not partition luck).

    Plan: one shuffle on the dedup key, per-group sort, row_number —
    the window frame never materializes a group in memory beyond the
    sort spill machinery, so a hot key degrades to disk, not OOM.
    (dropDuplicates has keep-SOME semantics; ordered survival needs
    the window form.)"""
    from pyspark.sql import Window as W

    events = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


@query("dedup_embedding_cosine", _embedding_dedup_oracle())
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with keep-first policy: any vector
    with a lower-id neighbour above the cosine threshold (within its
    label block) is a drop, reported with its canonical (lowest
    similar id) survivor. The deduped corpus is then an anti-join of
    the table against this drop list.

    Plan: unit-normalize once (n, not n²), label-blocked pair join
    through blocked_pair_join's triangle partitioning (hot-block
    guard: bounded per-task width, identical pairs), threshold
    filter, MIN(keep_id) aggregate — identical shuffle shape to
    cosine_similarity_join, plus one #drops-sized aggregate.
    At 100 TB the blocking key comes from LSH buckets or IVF cells
    instead of a label column; the keep-first fold is unchanged."""
    from impala_refresher_spark.operators.similarity import _dot, _unit, blocked_pair_join

    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    u = e.select("vec_id", "label", _unit(F.col("embedding")).alias("uv"))
    return (
        blocked_pair_join(u, "label", "vec_id")
        .filter(_dot(F.col("a.uv"), F.col("b.uv")) >= 0.35)
        .groupBy(F.col("b.vec_id").alias("drop_id"))
        .agg(F.min(F.col("a.vec_id")).alias("canonical_id"))
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the similarity pairs
# ---------------------------------------------------------------------------

# Propagation steps batched into one materialized round of the CC loop.
# Each round pays fixed costs (checkpoint job, convergence count, AQE
# re-planning) while min-label needs `diameter` steps total; more steps
# per round divide the fixed costs but DEEPEN the per-round plan, and
# the planning cost grows faster than the fixed costs shrink. r10 A/B
# at sf0.1, warm 3-run: 2 steps — components 2.16 s / survivors
# ~2.5 s / entity_resolution 1.25 s; 4 steps — 3.97 / 3.51 / 1.81 s
# (every consumer ~1.5x WORSE: each round's pre-checkpoint plan chains
# four join+aggregate layers and AQE re-plans all of them). 2 is the
# measured knee; the VERDICT-r09 idea "check convergence every other
# paired round" is the 4-step variant and is hereby measured and
# rejected.
_CC_STEPS_PER_ROUND = 2


def connected_components(
    edges: DataFrame,
    a: str = "a",
    b: str = "b",
    max_iter: int = 20,
    round_stats: list | None = None,
) -> DataFrame:
    """Min-label propagation over an undirected edge list → (node,
    component) where component = the smallest node id reachable.

    This is the iterative dataflow shape (cf. large-star/small-star):
    each round every node takes the min label over itself and its
    neighbours; rounds needed = graph diameter. Each round is one
    shuffle (join on node + groupBy); ``localCheckpoint`` truncates the
    growing lineage so round N's plan doesn't replay rounds 1..N-1.
    The per-round convergence count is a legitimate driver-side scalar
    (one long), not a data collect.

    ``round_stats``: optional instrumentation list — one entry per
    round with the PRE-checkpoint optimized-plan size of that round's
    label update. The lineage-blowup failure mode (forgetting the
    checkpoint makes round N replay rounds 1..N-1, invisible at
    sf0.01, fatal at scale) shows up here as monotonically growing
    plans; ``tests/test_plans.py`` locks the bound."""
    # Checkpoint the (symmetrized) edge list ONCE: it feeds the join in
    # every round, and without the cut each round would re-execute the
    # upstream pair-generation plan (the expensive similarity join).
    # EAGER, so the materialized size can steer the loop's partitioning.
    # Symmetrize by EXPLODING each pair into its two directions instead
    # of a union of two selects (r10): the union form inlines the
    # upstream pair-generation plan into BOTH branches, so the one
    # materialization job ran the expensive similarity join twice
    # (exchange reuse saves the shuffles but not the join+dot work);
    # the generate form computes each pair once and emits both rows in
    # place. Same rows, same checkpoint.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(a).alias("src"), F.col(b).alias("dst")),
                    F.struct(F.col(b).alias("src"), F.col(a).alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .localCheckpoint()
    )
    # Scale-adaptive partitioning for the iteration (guide §2.2): every
    # round's join+aggregate inherits sym's layout, so a near-dup graph
    # of a few thousand edges spread over the pair-join's inherited
    # 32-64 partitions pays 64 task launches per round for KB of data
    # (r09 profile: ~64-task 170 ms map stages per round, ~6 rounds).
    # Size partitions to ~250k edge rows (~5 MB) each, never more than
    # the inherited count — at 100 TB the edge list stays wide, on the
    # fixture the whole loop collapses to 1-2-task rounds. coalesce()
    # is narrow (no shuffle) and reads the checkpointed blocks.
    n_edges = sym.count()
    want = max(1, min(sym.rdd.getNumPartitions(), -(-n_edges // 250_000)))
    if want < sym.rdd.getNumPartitions():
        sym = sym.coalesce(want)
    labels = (
        sym.select(F.col("src").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint(eager=False)
    def _step(lbls: DataFrame) -> DataFrame:
        # Pregel "messages ∪ self" form: neighbour labels arrive as
        # messages, every node contributes its own label tagged
        # is_self, and ONE aggregate takes both the new label (min over
        # everything) and the old label (the self row) — two shuffles
        # per step (message join, node aggregate) instead of the
        # three of the aggregate-then-left-join form. The convergence
        # flag rides in-row so the checkpointed result answers "did
        # anything change?" with a filter-count over materialized
        # partitions, never a third join.
        msgs = sym.join(lbls, sym.dst == lbls.node).select(
            F.col("src").alias("node"),
            F.col("label"),
            F.lit(False).alias("is_self"),
        )
        both = lbls.select(
            "node", "label", F.lit(True).alias("is_self")
        ).unionByName(msgs)
        return (
            both.groupBy("node")
            .agg(
                F.min("label").alias("new_label"),
                F.min(F.when(F.col("is_self"), F.col("label"))).alias("old_label"),
            )
            .select(
                "node",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("old_label")).alias("chg"),
            )
        )

    # ceil(max_iter / steps) rounds of _CC_STEPS_PER_ROUND steps each:
    # the round count rounds UP, so the contract "at least max_iter
    # propagation steps before giving up" is never undercut.
    for _ in range(max(1, -(-max_iter // _CC_STEPS_PER_ROUND))):
        # MULTIPLE propagation steps per materialized round (r09 paired
        # them, r10 A/B'd wider): the checkpoint, the convergence count
        # and AQE's per-stage re-planning are the round's fixed costs,
        # and min-label needs `diameter` steps regardless — batching
        # steps divides the fixed costs without changing a single label
        # (the fixpoint test is exact: the LAST step reporting no
        # change means its input was already the fixpoint, since the
        # step function is idempotent there; a converged graph pays at
        # most steps-1 redundant steps, not extra rounds).
        pre = labels
        for _ in range(_CC_STEPS_PER_ROUND - 1):
            pre = _step(pre).select("node", "label")
        pre = _step(pre)
        if round_stats is not None:
            # pre-checkpoint plan size: constant across rounds iff the
            # checkpoint actually truncates lineage each round
            round_stats.append(
                len(pre._jdf.queryExecution().optimizedPlan().toString())
            )
        # LAZY checkpoint: the convergence count below is the round's
        # materializing action, so each round runs ONE job, not two
        # (eager checkpoint + count was measured at ~2x the per-round
        # fixed cost on small graphs; the persisted result is
        # identical either way).
        new_labels = pre.localCheckpoint(eager=False)
        labels = new_labels.select("node", "label")
        if new_labels.filter("chg").count() == 0:
            break
    return labels


def _sql_components_walk(a: str, b: str) -> str:
    """DuckDB twin of `connected_components` over the ``pairs`` CTE's
    ``(a, b)`` columns: the symmetrized ``edges`` CTE and the recursive
    ``walk(node, reach)`` closure, whose ``MIN(reach)`` per node is the
    component label (the statement must open ``WITH RECURSIVE``)."""
    return f"""edges AS (SELECT {a} AS src, {b} AS dst FROM pairs
              UNION ALL SELECT {b}, {a} FROM pairs),
    walk(node, reach) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, w.reach FROM edges e JOIN walk w ON e.dst = w.node
    )"""


def _embedding_walk_sql() -> str:
    """The recursive closure over the label-blocked embedding-cosine
    pair graph: ``WITH RECURSIVE`` u, pairs, edges and walk CTEs,
    shared by the cluster oracles."""
    from impala_refresher_spark.operators.similarity import _SQL_UNIT, _sql_dot

    return f"""
    WITH RECURSIVE u AS (SELECT vec_id, label, {_SQL_UNIT("embedding")} AS uv FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS pa, b.vec_id AS pb
      FROM u a JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_sql_dot("a.uv", "b.uv")} >= 0.35
    ),
    {_sql_components_walk("pa", "pb")}"""


_SQL_COMPONENTS = """SELECT node AS vec_id, CAST(MIN(reach) AS BIGINT) AS component_id
    FROM walk GROUP BY node"""


@query("dedup_cluster_components", f"{_embedding_walk_sql()}\n    {_SQL_COMPONENTS}")
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    embedding-cosine similarity graph — every vector in a component
    shares its component_id (the smallest member id), which is the
    survivor-selection structure corpus dedup actually needs (A~B~C
    must collapse to ONE survivor even when A,C were never directly
    compared). Oracle: recursive-CTE transitive closure in DuckDB."""
    from impala_refresher_spark.operators.similarity import _dot, _unit, blocked_pair_join

    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    u = e.select("vec_id", "label", _unit(F.col("embedding")).alias("uv"))
    pairs = (
        blocked_pair_join(u, "label", "vec_id")
        .filter(_dot(F.col("a.uv"), F.col("b.uv")) >= 0.35)
        .select(F.col("a.vec_id").alias("pa"), F.col("b.vec_id").alias("pb"))
    )
    return connected_components(pairs, "pa", "pb").select(
        F.col("node").alias("vec_id"), F.col("label").alias("component_id")
    )


# ---------------------------------------------------------------------------
# Incremental ingest dedup — new batch vs existing corpus
# ---------------------------------------------------------------------------

@query(
    "dedup_incremental_batch",
    """
    WITH corpus AS (
      SELECT DISTINCT sha256(text) AS text_hash FROM documents WHERE doc_id % 10 <> 0
    ),
    batch AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, sha256(text) AS text_hash
      FROM documents WHERE doc_id % 10 = 0
      GROUP BY sha256(text)
    )
    SELECT b.doc_id, b.text_hash
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text_hash = b.text_hash)
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: admit only new-batch documents whose
    content hash is absent from the already-ingested corpus, keeping
    one survivor (min doc_id) per hash within the batch itself.

    This is the daily-crawl shape at 100 TB: the corpus side is ONLY
    its 32-byte hash column (pruned at scan), the batch dedups
    map-side before the anti-join, and the anti-join shuffles hashes,
    never documents. The corpus hash set can be a bucketed table so
    repeated daily runs skip its shuffle entirely. Fixture split:
    doc_id % 10 == 0 plays the new batch, the rest the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % 10 != 0).select(
        F.sha2("text", 256).alias("text_hash")
    ).distinct()
    batch = (
        d.filter(F.col("doc_id") % 10 == 0)
        .groupBy(F.sha2("text", 256).alias("text_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return batch.join(corpus, "text_hash", "left_anti").select("doc_id", "text_hash")


def _minhash_incremental_oracle() -> str:
    """Generated DuckDB twin of `dedup_minhash_incremental`: the same
    deterministic md5/Mersenne arithmetic as `_minhash_lsh_oracle`,
    restricted to new-batch x existing-corpus band collisions."""
    on_tuple = " AND ".join(
        ["b.band_id = c.band_id"]
        + [f"b.x{r} = c.x{r}" for r in range(_ROWS_PER_BAND)]
    )
    xs = ", ".join(f"x{r}" for r in range(_ROWS_PER_BAND))
    return f"""
    WITH {_SQL_SHINGLES},
    {_sql_minhash_bands()},
    corpus_ok AS (
      SELECT band_id, {xs}
      FROM bands WHERE doc_id % 10 <> 0
      GROUP BY band_id, {xs}
      HAVING COUNT(*) <= {_MAX_DF}
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS doc_id, c.doc_id AS dup_of
      FROM (SELECT * FROM bands WHERE doc_id % 10 = 0) b
      JOIN (SELECT * FROM bands WHERE doc_id % 10 <> 0) c ON {on_tuple}
      JOIN corpus_ok o
        ON c.band_id = o.band_id AND {" AND ".join(f"c.x{r} = o.x{r}" for r in range(_ROWS_PER_BAND))}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    verified AS (
      SELECT cd.doc_id, cd.dup_of, COUNT(*) AS n_inter
      FROM cand cd
      JOIN sh a ON a.doc_id = cd.doc_id
      JOIN sh b ON b.doc_id = cd.dup_of AND b.shingle = a.shingle
      GROUP BY cd.doc_id, cd.dup_of
    ),
    scored AS (
      SELECT v.doc_id, v.dup_of,
             CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS j
      FROM verified v
      JOIN sizes sa ON sa.doc_id = v.doc_id
      JOIN sizes sb ON sb.doc_id = v.dup_of
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.4
    )
    SELECT doc_id, dup_of, ROUND(j, 4) AS jaccard
    FROM (SELECT doc_id, dup_of, j,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY j DESC, dup_of) AS rn
          FROM scored)
    WHERE rn = 1
    """


@query("dedup_minhash_incremental", _minhash_incremental_oracle())
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH near-dup lookup: flag each NEW-batch
    document whose best existing-corpus match has exact Jaccard >= 0.4,
    reporting that best corpus doc (`dup_of`, ties to the smaller id).
    The near-dup twin of `dedup_incremental_batch`'s exact-hash
    anti-join — the production daily-ingest path where the corpus is
    already indexed and only batch x corpus candidates matter.

    Scale shape: signatures/bands compute in ONE corpus pass (the
    fixture splits doc_id % 10 == 0 as the batch inside that pass; a
    real deployment reads the precomputed corpus band table), corpus
    band buckets become width-capped posting lists (`_MAX_DF` guards
    boilerplate bands), and the batch's bands BROADCAST against them —
    no corpus self-join, no corpus reshuffle, candidate cost bounded
    by batch size x bucket width. Verification (exact Jaccard via
    array intersect/union) touches only candidate ids semi-joined out
    of the corpus. Same md5/Mersenne portable arithmetic as
    `dedup_minhash_lsh`, so the whole pipeline is oracle-checkable;
    the best-match argmax orders on the RAW jaccard double (identical
    integer-ratio arithmetic on both engines) with doc-id tie-break.

    No reference analog (refresh orchestration only;
    /root/reference/impala-refresher.go:46-181)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    is_batch = F.col("doc_id") % 10 == 0
    bands = _band_keys(minhash_signatures(d))
    posting = (
        bands.filter(~is_batch)
        .groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= _MAX_DF)
    )
    candidates = (
        posting.join(
            F.broadcast(bands.filter(is_batch)), ["band_id", "band_hash"]
        )
        .select("doc_id", F.explode("ids").alias("dup_of"))
        .distinct()
        # feeds two semi-join id filters + the verify join; KB-to-MB
        # sized (bucket-width-capped), so checkpoint once
        .localCheckpoint()
    )
    cand_ids = (
        candidates.select(F.col("doc_id"))
        .union(candidates.select(F.col("dup_of")))
        .distinct()
    )
    pairs, jaccard = _verify_candidates(d, candidates, cand_ids, "doc_id", "dup_of")
    from pyspark.sql.window import Window

    best = Window.partitionBy("doc_id").orderBy(
        F.col("j").desc(), F.col("dup_of").asc()
    )
    return (
        pairs.withColumn("j", jaccard)
        .filter(F.col("j") >= 0.4)
        .withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select("doc_id", "dup_of", F.round("j", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination — drop training docs overlapping the eval set
# ---------------------------------------------------------------------------

@query(
    "decontaminate_train_set",
    f"""
    WITH {_SQL_SHINGLES},
    eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
    contaminated AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN eval_sh e ON s.shingle = e.shingle
      WHERE s.doc_id % 50 <> 0
    )
    SELECT d.doc_id,
           CASE WHEN c.doc_id IS NOT NULL THEN true ELSE false END AS contaminated
    FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
    WHERE d.doc_id % 50 <> 0
    """,
)
def decontaminate_train_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training document that
    shares ANY 3-gram shingle with the held-out eval set (fixture:
    doc_id % 50 == 0 plays the benchmark). This is the leakage gate
    every serious pretraining corpus runs before training.

    Scale shape: the eval side reduces to a DISTINCT shingle-hash set
    — benchmarks are tiny relative to the corpus, so it broadcasts;
    the train side streams its shingles through a map-side semi-join
    (no shuffle of the corpus at all when the eval set broadcasts).
    The flag join keys on doc_id — 8 bytes, not documents.
    """
    d = fan_out(load_table(spark, sf_dir, "documents"))
    is_eval = F.col("doc_id") % 50 == 0
    sh = d.select("doc_id", F.explode(_shingles(F.col("text"))).alias("s")).select(
        "doc_id", F.xxhash64("s").alias("shingle")
    )
    eval_sh = sh.filter(is_eval).select("shingle").distinct()
    contaminated = (
        sh.filter(~is_eval)
        .join(F.broadcast(eval_sh), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    return (
        d.filter(~is_eval)
        .join(contaminated, "doc_id", "left")
        .select("doc_id", F.coalesce("hit", F.lit(False)).alias("contaminated"))
    )


# ---------------------------------------------------------------------------
# Substring-level dedup prep: duplicated n-gram spans across documents
# (the inventory step of Lee et al. 2021, "Deduplicating Training Data
# Makes Language Models Better" — find the repeated spans before
# cutting them out)
# ---------------------------------------------------------------------------

_SPAN_N = 8  # words per span; long enough that repeats mean real reuse


def span_grams(d: DataFrame) -> DataFrame:
    """(doc_id, gram) — every word-level `_SPAN_N`-gram of each
    document, windows built by one higher-order transform over the
    token array (no self-join, no Python). Shared by
    `dup_span_ngrams` and the corpus pipelines."""
    w = F.split("text", " ")
    n = F.size(w)
    idx = F.when(n >= _SPAN_N, F.sequence(F.lit(1), n - (_SPAN_N - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, _SPAN_N)))
    return d.select("doc_id", F.explode(grams).alias("gram"))


@query(
    "dup_span_ngrams",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id, array_to_string(w[i:i + {_SPAN_N - 1}], ' ') AS gram
      FROM t, UNNEST(range(1, len(w) - {_SPAN_N - 2})) AS u(i)
    ),
    per AS (SELECT gram, doc_id, COUNT(*) AS c FROM g GROUP BY 1, 2)
    SELECT gram,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c) AS BIGINT) AS n_occurrences,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM per GROUP BY gram HAVING COUNT(*) >= 2
    """,
)
def dup_span_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated 8-word spans: every word-level
    8-gram that occurs in ≥2 distinct documents, with doc and
    occurrence counts — the exact-substring analogue of the shingle
    dedups above, and the inventory a span-removal pass consumes.

    Plan: sliding windows come from a higher-order transform over the
    SAME token array (no self-join, no per-row Python); the explode is
    collapsed immediately by two partial-aggregable hash aggregates —
    (gram, doc) then (gram) — written as explicit two-level grouping
    so the planner never reaches for a count-distinct EXPAND. At
    100 TB the shuffle key becomes xxhash64(gram) (8 bytes instead of
    the span text) with the string carried only in the payload of the
    winning groups; the HAVING n_docs ≥ 2 filter drops the unique-gram
    long tail — the overwhelming majority — at the second aggregate's
    map side."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    ex = span_grams(d)
    per = ex.groupBy("gram", "doc_id").agg(F.count("*").alias("c"))
    return (
        per.groupBy("gram")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("c").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "dedup_span_removal",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i + {_SPAN_N - 1}], ' ') AS gram
      FROM t, UNNEST(range(1, len(w) - {_SPAN_N - 2})) AS u(i)
    ),
    dup AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram
      ) x WHERE nd >= 2
    ),
    hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       <= {_SPAN_N - 1}
                  THEN 0 ELSE 1 END AS brk
      FROM hits
    ),
    grp AS (
      SELECT doc_id, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS isl_id
      FROM isl
    ),
    cov AS (
      SELECT doc_id, isl_id, MAX(pos) - MIN(pos) + {_SPAN_N} AS covered
      FROM grp GROUP BY doc_id, isl_id
    ),
    per_doc AS (
      SELECT doc_id, CAST(SUM(covered) AS BIGINT) AS n_dup FROM cov GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS BIGINT) AS n_tokens,
           COALESCE(p.n_dup, 0) AS n_dup_tokens,
           ROUND(COALESCE(p.n_dup, 0) * 1.0 / len(t.w), 4) AS dup_ratio
    FROM t LEFT JOIN per_doc p USING (doc_id)
    """,
)
def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL pass over `dup_span_ngrams`' inventory (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"):
    per document, how many token positions are covered by the union of
    all cross-document duplicated {_SPAN_N}-word spans — the number a
    span-excision pass deletes, reported as exact interval-union
    coverage (overlapping spans are merged, not double-counted).

    Plan: positional grams are the same single higher-order transform
    as `span_grams` (one pass over the token array, no Python, no
    self-join) but keep the start offset via posexplode; the
    duplicated-gram set comes from the two-level (gram, doc) → gram
    partial-aggregable pipeline of `dup_span_ngrams`; hit positions
    join back on the gram key (at 100 TB the join key becomes
    xxhash64(gram) — 8 bytes — exactly as dup_span_ngrams' docstring
    prescribes for its shuffle); interval union is the gaps-and-
    islands idiom over a DOC-GRAIN window (partitioned by doc_id —
    parallel and bounded, never single-partition). Integer-dominated
    output; the one float (coverage ratio) divides two exact integers
    identically on both engines.

    Complements the family: `dedup_exact`/`_minhash_lsh` drop whole
    documents, `quote_containment_join` finds asymmetric overlap,
    this measures and prices the span-level excision a pretraining
    cleanup actually performs.

    Measured scale-up (scripts/measure_new_ops.py as of commit
    41f55d4, local[32],
    synthetic 40-token docs with EVERY doc fully duplicated — the
    worst-case union mass): 20k docs 7.1 s → 200k docs 10.7 s (10x
    data, 1.5x time — fixed-overhead bound; 8M covered positions
    flow through the doc-grain windows without a single-partition
    stage).

    No reference analog (refresh orchestration only,
    /root/reference/impala-refresher.go:46-181)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    return span_removal_coverage(d)


def span_removal_coverage(d: DataFrame) -> DataFrame:
    """Core of `dedup_span_removal` over any (doc_id, text) relation —
    separated so the hypothesis property can drive it against a
    brute-force python model on arbitrary corpora."""
    w = F.split("text", " ")
    docs = d.select("doc_id", w.alias("w")).localCheckpoint()
    n = F.size("w")
    idx = F.when(
        n >= _SPAN_N, F.sequence(F.lit(1), n - (_SPAN_N - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice("w", i, _SPAN_N))
    )
    g = docs.select("doc_id", F.posexplode(grams).alias("pos", "gram"))
    per = g.groupBy("gram", "doc_id").agg(F.count("*").alias("c"))
    dup = (
        per.groupBy("gram")
        .agg(F.count("*").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    hits = g.join(dup, "gram").select("doc_id", "pos")

    from pyspark.sql.window import Window

    by_doc = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(by_doc) <= _SPAN_N - 1, F.lit(0)
    ).otherwise(F.lit(1))
    isl = hits.withColumn(
        "isl_id",
        F.sum(brk).over(by_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    cov = isl.groupBy("doc_id", "isl_id").agg(
        (F.max("pos") - F.min("pos") + _SPAN_N).alias("covered")
    )
    per_doc = cov.groupBy("doc_id").agg(
        F.sum("covered").cast("long").alias("n_dup")
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_dup"), F.lit(0)).alias("n_dup_tokens"),
            F.round(
                F.coalesce(F.col("n_dup"), F.lit(0)) / F.size("w"), 4
            ).alias("dup_ratio"),
        )
    )


def _cluster_survivors_oracle() -> str:
    return f"""{_embedding_walk_sql()},
    comp AS ({_SQL_COMPONENTS}),
    ranked AS (
      SELECT c.component_id, c.vec_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.component_id
                                ORDER BY d.n_chars DESC, c.vec_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY c.component_id) AS n_members
      FROM comp c JOIN documents d ON d.doc_id = c.vec_id
    )
    SELECT component_id, vec_id AS survivor_id,
           CAST(n_chars AS BIGINT) AS survivor_chars,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rk = 1
    """


@query("dedup_cluster_survivors", _cluster_survivors_oracle())
def dedup_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor selection over near-dup clusters: for every connected
    component of the embedding-similarity graph, keep the
    HIGHEST-QUALITY member (longest document, id tie-break) — the step
    that turns `dedup_cluster_components`'s cluster ids into an actual
    keep-list. Picking by quality instead of "first seen" is what the
    production dedups do (you keep the best copy, not an arbitrary
    one); singletons never enter the pair graph and pass through a
    corpus dedup untouched, so they are deliberately absent here.

    Plan: CC labels (iterative min-label, checkpointed) ⋈ the quality
    dimension on the 8-byte doc key, then ONE window partitioned by
    component — survivor choice and member count share the single
    component-key shuffle. At 100 TB the join is corpus⋈corpus on ids
    (sort-merge on 8-byte keys) and the window state is one component's
    members, bounded by cluster size, not corpus size."""
    from pyspark.sql import Window as W

    comp = dedup_cluster_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = W.partitionBy("component_id").orderBy(
        F.col("n_chars").desc(), F.col("vec_id").asc()
    )
    wc = W.partitionBy("component_id")
    return (
        comp.join(d, comp.vec_id == d.doc_id)
        .select(
            "component_id",
            "vec_id",
            "n_chars",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(wc).alias("n_members"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "component_id",
            F.col("vec_id").alias("survivor_id"),
            F.col("n_chars").cast("bigint").alias("survivor_chars"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup through k-means blocking (Abbas et al. 2023)
# ---------------------------------------------------------------------------

_SEM_K = 8  # cluster count; at 100 TB this is ~100k clusters
_SEM_THRESH = 0.35


def _semdedup_oracle() -> str:
    from impala_refresher_spark.operators.similarity import (
        _SQL_UNIT,
        _km_assign_sql,
        _sql_dot,
    )

    return f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
               FROM embeddings),
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS BIGINT) AS cid,
             emb AS cent
      FROM v
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_SEM_K}
    ),
    assign AS ({_km_assign_sql("v", "c0")}),
    u AS (SELECT vec_id, {_SQL_UNIT("embedding")} AS uv FROM embeddings),
    pairs AS (
      SELECT aa.cid AS cluster, aa.vec_id AS keep_id, ab.vec_id AS drop_id
      FROM assign aa
      JOIN assign ab ON aa.cid = ab.cid AND aa.vec_id < ab.vec_id
      JOIN u ua ON ua.vec_id = aa.vec_id
      JOIN u ub ON ub.vec_id = ab.vec_id
      WHERE {_sql_dot("ua.uv", "ub.uv")} >= {_SEM_THRESH}
    )
    SELECT cluster, drop_id, MIN(keep_id) AS canonical_id
    FROM pairs
    GROUP BY cluster, drop_id
    """


@query("semdedup_embeddings", _semdedup_oracle())
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-
    dedup where the quadratic pair comparison is bounded by K-MEANS
    CLUSTERS instead of a metadata blocking key — the production
    architecture for embedding-level dedup of web-scale corpora
    (`dedup_embedding_cosine` blocks on the label column; real corpora
    have no such column, so SemDeDup manufactures the blocks from the
    geometry itself).

    Plan: (1) seed K centroids from an md5-ordered sample (KB collect +
    broadcast — the kmeans/IVF index-exchange pattern); (2) argmin-
    assign every vector map-side, NO shuffle (identical fold to
    `kmeans_refine_assignments`, ties -> smallest cid); (3) pair-join
    WITHIN clusters through `blocked_pair_join`'s triangle grid (per-
    task width bounded, each pair exactly once); (4) keep-first fold:
    every vector similar to a lower-id cluster-mate is a drop, reported
    with its canonical survivor. The deduped corpus is the anti-join
    against this drop list.

    100 TB shape: cost falls from n^2 to sum over clusters of w_c^2 —
    with K sized so clusters fit the pair budget (the paper uses
    ~0.1 sqrt(n) clusters), that is ~n^1.5 / sqrt(K). Assignment is
    scan-bandwidth-bound; only the within-cluster pairs shuffle. The
    oracle unrolls seed->assign->pair->fold in SQL, so cluster ids,
    drops, and canonicals are all checked exactly."""
    from impala_refresher_spark.operators.similarity import (
        _dot,
        _unit,
        blocked_pair_join,
    )

    e = fan_out(load_table(spark, sf_dir, "embeddings"))
    v = e.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    )
    seeds = (
        v.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_SEM_K)
        .select("emb")
        .collect()
    )
    cents = [[float(x) for x in r.emb] for r in seeds]
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
        for cent in cents
    ]
    best = (F.array_position(F.array(*dists), F.array_min(F.array(*dists))) - 1).cast(
        "bigint"
    )
    assigned = v.select("vec_id", best.alias("cid"))
    # The assigned+normalized relation is materialized ONCE inside
    # blocked_pair_join (r10): it has three consumers — the salt-sizing
    # statistics pass and both self-join sides — and each carried the
    # full K*dim argmin expression tree (the r10 before-plan was 118 KB
    # / 18 exchanges; AQE re-planned every stage of it). Measured here:
    # 2.4 s → 1.8 s warm with identical output.
    u = (
        e.select("vec_id", _unit(F.col("embedding")).alias("uv"))
        .join(assigned, "vec_id")
        .select("vec_id", "cid", "uv")
    )
    return (
        blocked_pair_join(u, "cid", "vec_id")
        .filter(_dot(F.col("a.uv"), F.col("b.uv")) >= _SEM_THRESH)
        .groupBy(F.col("b.cid").alias("cluster"), F.col("b.vec_id").alias("drop_id"))
        .agg(F.min(F.col("a.vec_id")).alias("canonical_id"))
    )


# ---------------------------------------------------------------------------
# Dedup-quality scoreboard: precision/recall of every pair detector
# ---------------------------------------------------------------------------

def _dedup_quality_oracle() -> str:
    """Composes the minhash-LSH and SimHash oracles (each a complete
    WITH..SELECT, nested as CTE subqueries) against the exact-Jaccard
    truth CTE — possible precisely BECAUSE all three pipelines are
    already fully SQL-oracled, so the precision/recall arithmetic on
    top is plain integer counting (the `ann_recall_at_k` composition
    pattern applied to the dedup family)."""
    return f"""
    WITH mh AS ( {_minhash_lsh_oracle()} ),
    smh AS ( {_simhash_oracle()} ),
    truth AS ( SELECT doc_a, doc_b FROM ( {_ngram_jaccard_oracle()} ) ),
    det AS (
      SELECT 'minhash_lsh' AS detector, doc_a, doc_b FROM mh
      UNION ALL SELECT 'simhash', doc_a, doc_b FROM smh
    ),
    counts AS (
      SELECT d.detector,
             COUNT(*) AS n_detected,
             SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
      FROM det d LEFT JOIN truth t ON t.doc_a = d.doc_a AND t.doc_b = d.doc_b
      GROUP BY d.detector
    ),
    nt AS (SELECT COUNT(*) AS n_truth FROM truth)
    SELECT g.detector,
           CAST(COALESCE(c.n_detected, 0) AS BIGINT) AS n_detected,
           CAST(nt.n_truth AS BIGINT) AS n_truth,
           CAST(COALESCE(c.n_hits, 0) AS BIGINT) AS n_hits,
           ROUND(COALESCE(c.n_hits, 0)
                 / NULLIF(COALESCE(c.n_detected, 0), 0), 4) AS precision,
           ROUND(COALESCE(c.n_hits, 0) / NULLIF(nt.n_truth, 0), 4) AS recall
    FROM (VALUES ('minhash_lsh'), ('simhash')) g(detector)
    CROSS JOIN nt
    LEFT JOIN counts c ON c.detector = g.detector
    """


@query("dedup_quality_scoreboard", _dedup_quality_oracle())
def dedup_quality_scoreboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-quality scoreboard: precision/recall of EVERY approximate
    near-dup pair detector in this package (`dedup_minhash_lsh`,
    `dedup_simhash`) against `dedup_ngram_jaccard`'s exact-Jaccard
    (>= 0.4) ground truth — the regression gate a production corpus
    pipeline runs before swapping banding/threshold configs, with the
    measurement ITSELF cross-engine verified (the `ann_recall_at_k`
    pattern applied to the dedup family).

    Honest fixture notes, by construction: minhash_lsh's output is
    already exact-Jaccard-VERIFIED at the same 0.4 threshold, so its
    precision is 1.0 whenever the df-cap regimes agree (they do at
    every fixture SF; at corpus scale the two caps diverge only on
    >= _MAX_DF-hot shingles) and its RECALL is the informative number
    — pure 8x4 banding recall, 1.0 here because fixture dup pairs sit
    far above the threshold (collision probability 1-(1-j^4)^8 ~ 0.19
    AT j=0.4 but ~0.99 at j=0.8). SimHash detects hamming<=3 token-set
    similarity, a genuinely different relation from 3-gram Jaccard, so
    both its numbers are two-sided (precision ~0.002, recall ~0.21-0.25
    across SFs) — exactly the divergence the scoreboard exists to
    expose.

    Scale shape: each detector branch reuses its own (already
    plan-audited, bucketed posting-list) pipeline; truth is the
    df-capped inverted-index join, never all-pairs; the scoreboard
    tail joins three near-dup-sized pair sets (KB-to-MB at any corpus
    size) and folds to a 2-row grid, with the lone crossJoin a
    broadcast of the 1-row truth count.

    No reference analog (refresh orchestration only,
    /root/reference/impala-refresher.go:46-181).

    r09 execution shape (results unchanged, same three pipelines):
    the three independent detector branches materialize CONCURRENTLY
    from a small thread pool into checkpointed pair-sized relations
    (guide §2.6: Spark happily overlaps jobs; the branches were
    serialized because the LSH branch's eager candidate checkpoint
    blocked the driver thread and the tail was one huge sequential
    DAG). Each branch still derives its own shingles — an A/B showed
    sharing ONE checkpointed corpus-shingle relation is a wash at
    sf0.1 (materialization ≈ recompute) and at 100 TB persisting a
    corpus-sized intermediate is exactly what guide §8 says to avoid;
    recompute stays pipelined inside each branch's codegen. Measured
    at sf0.1: 4.0 s → 3.3 s (3-run min) with identical output."""
    d = fan_out(load_table(spark, sf_dir, "documents"))

    branches = {
        "truth": lambda: _jaccard_pairs(_shingled(d)).select("doc_a", "doc_b"),
        "minhash_lsh": lambda: _minhash_lsh_pairs(d).select("doc_a", "doc_b"),
        "simhash": lambda: _simhash_pairs(d).select("doc_a", "doc_b"),
    }
    from impala_refresher_spark.concurrency import run_branches

    got = run_branches(spark, "dedup_quality_scoreboard", branches)
    truth = got["truth"]
    det = got["minhash_lsh"].select(
        F.lit("minhash_lsh").alias("detector"), "doc_a", "doc_b"
    ).unionAll(
        got["simhash"].select(
            F.lit("simhash").alias("detector"), "doc_a", "doc_b"
        )
    )
    counts = (
        det.join(truth.withColumn("hit", F.lit(1)), ["doc_a", "doc_b"], "left")
        .groupBy("detector")
        .agg(
            F.count("*").alias("n_detected"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
    )
    nt = truth.agg(F.count("*").alias("n_truth"))
    grid = det.sparkSession.createDataFrame(
        [("minhash_lsh",), ("simhash",)], "detector string"
    ).crossJoin(F.broadcast(nt))
    nd = F.coalesce(F.col("n_detected"), F.lit(0))
    nh = F.coalesce(F.col("n_hits"), F.lit(0))
    return grid.join(counts, "detector", "left").select(
        "detector",
        nd.cast("long").alias("n_detected"),
        F.col("n_truth").cast("long").alias("n_truth"),
        nh.cast("long").alias("n_hits"),
        F.round(nh / F.nullif(nd, F.lit(0)), 4).alias("precision"),
        F.round(nh / F.nullif(F.col("n_truth"), F.lit(0)), 4).alias("recall"),
    )
