"""Deduplication operators for training-data pipelines.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band → bucket),
SimHash (portable hex-nibble bit extraction), n-gram Jaccard self-join,
and embedding-cosine near-dup — all expressed as declarative plans
(shuffle on shingle/bucket keys, map-side distinct first) with DuckDB
oracles.

Scale notes: every self-join here is blocked (by band bucket, label, or
shingle) so candidate generation is O(docs × shingles), never O(docs²);
at 100 TB the band-bucket join is the standard MinHash-LSH layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import load, md5_bucket, md5_bucket_sql, widen

N_MINHASHES = 4
CHAR_SHINGLE = 5
MAX_SHINGLE_BUCKET = 64  # frequent-shingle cap: drop posting lists above this
LSH_RECALL_THRESHOLDS = (0.2, 0.5, 0.8)
LSH_RECALL_MAX_BUCKET = 512  # candidate-bucket cap (pair blow-up guard)


# --- exact dedup ---------------------------------------------------------------

def q_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("keeper_doc"))
        .groupBy()
        .agg(
            F.count("*").alias("n_unique"),
            F.sum(F.when(F.col("n") > 1, F.col("n") - 1).otherwise(0)).alias("n_dropped"),
        )
    )


_ORACLE_EXACT = """
SELECT count(*) AS n_unique,
       CAST(sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM (SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper FROM documents GROUP BY 1)
"""


# --- MinHash signatures + LSH bands ----------------------------------------------

def _shingles_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = widen(load(spark, sf_dir, "documents"))
    # positional substring needs a column start → SQL expr form
    shingles = F.array_distinct(
        F.expr(f"transform(sequence(1, greatest(length(text) - {CHAR_SHINGLE - 1}, 1)), i -> substring(text, i, {CHAR_SHINGLE}))")
    )
    # explode_outer, NOT explode: plain explode makes InferFiltersFromGenerate
    # add a size(..)>0 predicate that Catalyst pushes below the widen()
    # exchange, re-evaluating the whole shingling expression on the narrow
    # pre-shuffle side. Outer explode suppresses the inferred filter; the
    # array is non-empty by construction (greatest(.., 1)) so results match.
    return docs.select("doc_id", F.explode_outer(shingles).alias("sh"))


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _shingles_df(spark, sf_dir)
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("sh")))).alias(f"m{k}")
        for k in range(N_MINHASHES)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def _minhash_sql() -> str:
    mins = ",\n       ".join(
        f"min(md5(concat('{k}:', sh))) AS m{k}" for k in range(N_MINHASHES)
    )
    return f"""
WITH shingled AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(length(text) - {CHAR_SHINGLE - 1}, 1) + 1),
           i -> substring(text, i, {CHAR_SHINGLE})))) AS sh
  FROM documents
)
SELECT doc_id,
       {mins}
FROM shingled
GROUP BY doc_id
"""


def _lsh_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket): the 4-hash signature banded into 2 bands
    of 2 rows, each band hashed to one bucket."""
    return sig.select(
        "doc_id",
        F.md5(F.concat_ws("|", "m0", "m1")).alias("b0"),
        F.md5(F.concat_ws("|", "m2", "m3")).alias("b1"),
    ).selectExpr("doc_id", "stack(2, 0, b0, 1, b1) as (band, bucket)")


def _posting_pairs(rows: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """(d1, d2) doc pairs, d1 < d2, inside every posting list of
    ``rows`` (doc_id plus ``keys``) that holds 2..cap docs. Lists above
    ``cap`` are dropped — the pair blow-up guard, an uncapped list of B
    docs emits B²/2 pairs. One shuffle on ``keys``; pairs are emitted
    row-locally from the sorted list, once per list they share."""
    posting = (
        rows.groupBy(*keys)
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") > 1) & (F.size("ds") <= cap))
    )
    return posting.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> transform("
                "slice(ds, i + 2, size(ds) - i - 1), y -> struct(x AS d1, y AS d2))))"
            )
        ).alias("p")
    ).select("p.d1", "p.d2")


def _lsh_candidate_pairs(
    spark: SparkSession, sf_dir: str, cap: int = LSH_RECALL_MAX_BUCKET
) -> DataFrame:
    """Distinct near-dup candidate pairs (d1 < d2): docs sharing a
    MinHash-LSH (band, bucket) whose posting list holds at most ``cap``
    docs. The edge table of the graph family — PageRank, LPA and the
    triangle census at cap LSH_RECALL_MAX_BUCKET (_ORACLE_LSH_CAND_CTES),
    connected components at cap MAX_SHINGLE_BUCKET (_CC_WALK_SQL) — and
    the candidate side of the recall panel."""
    bands = _lsh_bands(q_minhash_signatures(spark, sf_dir))
    return _posting_pairs(bands, ["band", "bucket"], cap).distinct()


def q_minhash_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band the 4-hash signature into 2 bands of 2; histogram bucket sizes.
    Bucket sizes > 1 are the near-dup candidate sets."""
    return (
        _lsh_bands(q_minhash_signatures(spark, sf_dir))
        .groupBy("band", "bucket")
        .agg(F.count("*").alias("bucket_size"))
        .groupBy("band", "bucket_size")
        .agg(F.count("*").alias("n_buckets"))
    )


_ORACLE_LSH = f"""
WITH sig AS ({_minhash_sql()}),
bands AS (
  SELECT 0 AS band, md5(concat(m0, '|', m1)) AS bucket FROM sig
  UNION ALL
  SELECT 1 AS band, md5(concat(m2, '|', m3)) AS bucket FROM sig
),
sizes AS (SELECT band, bucket, count(*) AS bucket_size FROM bands GROUP BY 1, 2)
SELECT band, bucket_size, count(*) AS n_buckets FROM sizes GROUP BY 1, 2
"""


# --- MinHash-LSH index quality (measured precision/recall) ------------------
# The dedup analog of the ANN recall panels: nobody should trust a
# banded-MinHash blocking scheme at 10^12 docs on the theoretical
# S-curve alone — measure what the bands actually capture on this
# corpus (Broder 1997 resemblance sketch; Leskovec/Rajaraman/Ullman
# ch.3 banding analysis).
def q_minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured precision/recall of the 2-band × 2-row MinHash blocking
    against TRUE char-shingle Jaccard, per similarity threshold: ground
    truth is the verified-Jaccard pair set (capped posting lists — the
    identical cap on the oracle side; a candidate pair whose shared
    shingles were all cap-dropped counts as a false positive, the
    conservative direction), candidates are pairs sharing ≥1 LSH band.
    One row per threshold: n_true, n_cand, n_hits, precision (fraction
    of candidates that are true pairs at T), recall (fraction of true
    pairs the bands caught); a ratio whose denominator is 0 reports the
    -1.0 sentinel (NULL doubles materialize as NaN through the driver's
    pandas fetch). All ratios are exact integer divisions — bit-
    identical across engines.

    What it surfaces on this corpus: with only N_MINHASHES = 4 hashes
    (2 bands × 2) the blocking is noise-dominated — at sf0.01 it
    catches ALL 24 true pairs at T = 0.2 (recall 1.0) inside 3.7k
    candidates (precision 0.0064) — i.e. the 4-hash sketch is too
    coarse to deduplicate this corpus at scale, which is exactly what
    an index-quality panel exists to say before anyone ships it.

    Scale shape: the truth side is the capped posting-list pair engine
    (one shuffle on the shingle); the candidate side explodes each
    band bucket's member list row-locally with its own cap
    (LSH_RECALL_MAX_BUCKET — buckets above it are dropped on BOTH
    engines; an uncapped mega-bucket of B docs would emit B²/2 pairs,
    the blow-up this panel must survive precisely when the index under
    test is bad); the join keyed on (d1, d2) carries only pair ids.
    The threshold sweep is a broadcast 3-row cross join —
    statistics-sized."""
    # truth: verified jaccard over the SAME char-shingle universe the
    # minhash signatures sketch
    ex = _shingles_df(spark, sf_dir)
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("sz"))
    pairs = _posting_pairs(ex, ["sh"], MAX_SHINGLE_BUCKET)
    common = pairs.groupBy("d1", "d2").agg(F.count("*").alias("c"))
    jac = (
        common.join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
        .select("d1", "d2", (F.col("c") / (F.col("sz1") + F.col("sz2") - F.col("c"))).alias("jaccard"))
    )
    # candidates: pairs sharing >=1 of the 2 LSH bands (distinct: a
    # pair may collide in both bands)
    cand = _lsh_candidate_pairs(spark, sf_dir, LSH_RECALL_MAX_BUCKET)
    scored = cand.withColumn("is_cand", F.lit(1)).join(jac, ["d1", "d2"], "full").select(
        F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
        F.coalesce("jaccard", F.lit(0.0)).alias("jaccard"),
    )
    ts = spark.createDataFrame(
        [(float(t),) for t in LSH_RECALL_THRESHOLDS], "threshold double"
    )
    per = scored.crossJoin(F.broadcast(ts)).groupBy("threshold").agg(
        F.sum((F.col("jaccard") >= F.col("threshold")).cast("long")).alias("n_true"),
        F.sum("is_cand").alias("n_cand"),
        F.sum(
            ((F.col("jaccard") >= F.col("threshold")) & (F.col("is_cand") == 1)).cast("long")
        ).alias("n_hits"),
    )
    def _ratio(num, den):
        return F.when(
            F.col(den) > 0, F.round(F.col(num) / F.col(den), 4)
        ).otherwise(F.lit(-1.0))

    return per.select(
        "threshold",
        "n_true",
        "n_cand",
        "n_hits",
        _ratio("n_hits", "n_cand").alias("precision"),
        _ratio("n_hits", "n_true").alias("recall"),
    )


def _lsh_recall_sql() -> str:
    ts = ", ".join(f"({t})" for t in LSH_RECALL_THRESHOLDS)
    return f"""
WITH shingled AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(length(text) - {CHAR_SHINGLE - 1}, 1) + 1),
           i -> substring(text, i, {CHAR_SHINGLE})))) AS sh
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
ok AS (SELECT sh FROM shingled GROUP BY sh
       HAVING count(*) BETWEEN 2 AND {MAX_SHINGLE_BUCKET}),
shf AS (SELECT shingled.* FROM shingled JOIN ok USING (sh)),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
  FROM shf a JOIN shf b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT c.d1, c.d2, c.c / CAST(s1.sz + s2.sz - c.c AS DOUBLE) AS jaccard
  FROM common c JOIN sizes s1 ON c.d1 = s1.doc_id JOIN sizes s2 ON c.d2 = s2.doc_id
),
sig AS ({_minhash_sql()}),
bands AS (
  SELECT doc_id, 0 AS band, md5(concat(m0, '|', m1)) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(concat(m2, '|', m3)) AS bucket FROM sig
),
ok_cand AS (
  SELECT band, bucket FROM bands GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND {LSH_RECALL_MAX_BUCKET}
),
bf AS (SELECT bands.* FROM bands JOIN ok_cand USING (band, bucket)),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bf a JOIN bf b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
scored AS (
  SELECT CASE WHEN cand.d1 IS NOT NULL THEN 1 ELSE 0 END AS is_cand,
         coalesce(jac.jaccard, 0.0) AS jaccard
  FROM jac FULL OUTER JOIN cand ON jac.d1 = cand.d1 AND jac.d2 = cand.d2
),
ts(threshold) AS (VALUES {ts})
SELECT threshold,
       CAST(sum(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(sum(is_cand) AS BIGINT) AS n_cand,
       CAST(sum(CASE WHEN jaccard >= threshold AND is_cand = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       CASE WHEN sum(is_cand) > 0
            THEN round(sum(CASE WHEN jaccard >= threshold AND is_cand = 1 THEN 1 ELSE 0 END)
                       / CAST(sum(is_cand) AS DOUBLE), 4)
            ELSE -1.0 END AS precision,
       CASE WHEN sum(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END) > 0
            THEN round(sum(CASE WHEN jaccard >= threshold AND is_cand = 1 THEN 1 ELSE 0 END)
                       / CAST(sum(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END) AS DOUBLE), 4)
            ELSE -1.0 END AS recall
FROM scored CROSS JOIN ts
GROUP BY threshold
"""


# --- SimHash (16-bit, portable nibble bit test) -----------------------------------

_BIT_SETS = {
    3: "89abcdef",
    2: "4567cdef",
    1: "2367abef",
    0: "13579bdf",
}


def _simhash_bits_spark(token_hash):
    """±1 contributions for 16 bits from the first 4 hex chars."""
    cols = []
    for pos in range(1, 5):
        c = F.substring(token_hash, pos, 1)
        for bit, members in _BIT_SETS.items():
            cols.append(
                F.when(c.isin(*list(members)), 1).otherwise(-1).alias(f"s_{pos}_{bit}")
            )
    return cols


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over word tokens; returns hash-value histogram."""
    docs = widen(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode_outer(F.array_distinct(F.split("text", " "))).alias("tok")
    ).select("doc_id", F.md5("tok").alias("h"))
    contrib = toks.select("doc_id", *_simhash_bits_spark(F.col("h")))
    sums = contrib.groupBy("doc_id").agg(
        *[F.sum(f"s_{p}_{b}").alias(f"t_{p}_{b}") for p in range(1, 5) for b in (3, 2, 1, 0)]
    )
    weight = {(p, b): 2 ** ((4 - p) * 4 + b) for p in range(1, 5) for b in (3, 2, 1, 0)}
    simhash = None
    for (p, b), w in weight.items():
        term = F.when(F.col(f"t_{p}_{b}") > 0, w).otherwise(0)
        simhash = term if simhash is None else (simhash + term)
    return (
        sums.select(simhash.alias("simhash"))
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"))
    )


def _simhash_sql() -> str:
    terms = []
    for p in range(1, 5):
        for b, members in _BIT_SETS.items():
            inlist = ",".join(f"'{ch}'" for ch in members)
            w = 2 ** ((4 - p) * 4 + b)
            terms.append(
                f"CASE WHEN sum(CASE WHEN substring(h, {p}, 1) IN ({inlist}) THEN 1 ELSE -1 END) > 0 THEN {w} ELSE 0 END"
            )
    expr = " + ".join(terms)
    return f"""
WITH toks AS (
  SELECT doc_id, md5(unnest(list_distinct(string_split(text, ' ')))) AS h
  FROM documents
),
hashes AS (SELECT doc_id, {expr} AS simhash FROM toks GROUP BY doc_id)
SELECT simhash, count(*) AS n_docs FROM hashes GROUP BY simhash
"""


# --- n-gram Jaccard ---------------------------------------------------------------

def _trigram_jaccard_pairs(docs: DataFrame, min_jaccard: float) -> DataFrame:
    """Verified word-trigram Jaccard pairs (d1 < d2, jaccard ≥ threshold)
    via group-by-shingle pair generation — the shared candidate engine
    behind the pair histogram and the source-overlap matrix. Scale
    shape: one corpus scan, one shuffle on (lang, trigram), pairs
    emitted row-locally from capped posting lists (≤ MAX_SHINGLE_BUCKET
    — the production guard against O(n²) stop-phrase mega-buckets);
    the jaccard division is exact integer arithmetic, bit-identical
    across engines."""
    # materialize the word array in its own projection: inlining it into
    # the lambda would re-split the text once per trigram (Catalyst only
    # collapses projections when the duplicated expression is cheap)
    words = docs.select("doc_id", "lang", F.split("text", " ").alias("ws"))
    tri = F.expr(
        "array_distinct(transform(sequence(1, greatest(size(ws) - 2, 1)),"
        " i -> concat_ws(' ', slice(ws, i, 3))))"
    )
    with_tri = words.select("doc_id", "lang", tri.alias("gs"))
    # |trigrams| per doc without a second explode pass
    sizes = with_tri.select("doc_id", F.size("gs").alias("sz"))
    # explode_outer: see _shingles_df — keeps the inferred size(..)>0 filter
    # from being pushed below the exchange (gs is non-empty by construction)
    ex = with_tri.select("doc_id", "lang", F.explode_outer("gs").alias("g"))
    pairs = _posting_pairs(ex, ["lang", "g"], MAX_SHINGLE_BUCKET)
    common = pairs.groupBy("d1", "d2").agg(F.count("*").alias("c"))
    return (
        common.join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("sz", "sz1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("sz", "sz2"), "d2")
        .withColumn("jaccard", F.col("c") / (F.col("sz1") + F.col("sz2") - F.col("c")))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("d1", "d2", "jaccard")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram Jaccard similarity for same-lang doc pairs sharing ≥1
    trigram; returns pairs above 0.05 (histogram by rounded bin). Pair
    generation and its scale shape: _trigram_jaccard_pairs (the DuckDB
    oracle applies the identical shingle cap so both sides stay
    comparable — test_jaccard_mega_bucket_dropped pins the behavior)."""
    docs = widen(load(spark, sf_dir, "documents"))
    jac = _trigram_jaccard_pairs(docs, 0.05)
    return jac.groupBy(F.round("jaccard", 2).alias("jaccard_bin")).agg(
        F.count("*").alias("n_pairs")
    )


OVERLAP_MIN_JACCARD = 0.05  # cross-source affinity threshold


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every (source_a ≤ source_b)
    pair, how many verified near-dup document pairs cross them (plus the
    strongest overlap seen) — the provenance rollup a corpus curator
    reads BEFORE mixture weighting: two sources that heavily duplicate
    each other should not both be up-weighted, and a source whose
    diagonal entry is large is internally redundant (the cross-dump /
    cross-source dedup accounting of RefinedWeb [Penedo et al. 2023]
    and Dolma [Soldaini et al. 2024]).

    Scale shape: the pair engine is _trigram_jaccard_pairs (capped
    posting lists, pairs row-local). The verified pair table is
    dedup-output-sized (≪ corpus), so the two doc_id→source lookups are
    plain shuffled joins whose pair side AQE converts to broadcast at
    any realistic dup rate; the matrix itself is |sources|²-bounded —
    statistics-sized."""
    docs = widen(load(spark, sf_dir, "documents"))
    jac = _trigram_jaccard_pairs(docs, OVERLAP_MIN_JACCARD)
    srcs = docs.select("doc_id", "source")
    return (
        jac.join(
            srcs.withColumnRenamed("doc_id", "d1").withColumnRenamed("source", "s1"),
            "d1",
        )
        .join(
            srcs.withColumnRenamed("doc_id", "d2").withColumnRenamed("source", "s2"),
            "d2",
        )
        .select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            # max of bit-identical doubles: order-independent, oracle-exact
            F.round(F.max("jaccard"), 4).alias("max_jaccard"),
        )
    )


# shared CTE body: verified trigram-Jaccard pairs (d1, d2, jaccard) —
# the SQL twin of _trigram_jaccard_pairs, identical shingle cap
_JACCARD_CTES = f"""ex AS (
  SELECT doc_id, lang, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS g
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
ok_buckets AS (
  SELECT lang, g FROM ex GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND {MAX_SHINGLE_BUCKET}
),
exf AS (SELECT ex.* FROM ex JOIN ok_buckets USING (lang, g)),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
  FROM exf a JOIN exf b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT c.d1, c.d2, c.c / CAST(s1.sz + s2.sz - c.c AS DOUBLE) AS jaccard
  FROM common c JOIN sizes s1 ON c.d1 = s1.doc_id JOIN sizes s2 ON c.d2 = s2.doc_id
)"""

_ORACLE_JACCARD = (
    "WITH " + _JACCARD_CTES + """
SELECT round(jaccard, 2) AS jaccard_bin, count(*) AS n_pairs
FROM jac WHERE jaccard >= 0.05 GROUP BY 1
"""
)

_ORACLE_SOURCE_OVERLAP = (
    "WITH " + _JACCARD_CTES + f"""
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs,
       round(max(jaccard), 4) AS max_jaccard
FROM jac
JOIN documents da ON da.doc_id = jac.d1
JOIN documents db ON db.doc_id = jac.d2
WHERE jaccard >= {OVERLAP_MIN_JACCARD}
GROUP BY 1, 2
"""
)


# --- embedding cosine near-dup ------------------------------------------------------

NEARDUP_TARGET_BUCKET = 32  # expected vectors per LSH bucket


def _neardup_bits(n_vectors: int) -> int:
    """Sign-LSH bit count sized to the corpus: bucket count scales with n
    so the EXPECTED bucket population stays ~NEARDUP_TARGET_BUCKET and
    candidate pairs stay ~linear in corpus size. (A fixed bit count — or
    a fixed-cardinality key like label — degrades to O(n²) per block
    once buckets saturate.)"""
    import math

    return max(1, math.ceil(math.log2(max(n_vectors / NEARDUP_TARGET_BUCKET, 2.0))))


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs with cosine ≥ 0.3 inside the same sign-LSH bucket.

    The blocking key is a corpus-sized sign-LSH bucket (see
    `_neardup_bits`), NOT a fixed-cardinality attribute like label:
    per-bucket population — and therefore candidate pairs — stays
    ~linear in corpus size (the standard near-dup layout at 100 TB).
    Same-orthant blocking trades a little recall for that bound, like
    any LSH scheme. `test_dedup_scale_shapes` demonstrates the
    sub-quadratic growth on the sf0.001 → sf0.1 testdata. The count()
    sizing the bits is a metadata-only scan (Iceberg/parquet row counts
    come from footers)."""
    emb_raw = load(spark, sf_dir, "embeddings")
    bits = _neardup_bits(emb_raw.count())
    bucket = F.concat(
        *[
            F.when(F.element_at("embedding", i) >= 0, "+").otherwise("-")
            for i in range(1, bits + 1)
        ]
    )
    emb = emb_raw.select(
        "vec_id",
        bucket.alias("bucket"),
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    norm = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    emb = emb.withColumn("nrm", norm)
    a, b = emb.alias("a"), emb.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            (dot / (F.col("a.nrm") * F.col("b.nrm"))).alias("cos"),
        )
        .filter(F.col("cos") >= 0.3)
    )
    return pairs.groupBy("bucket").agg(F.count("*").alias("n_neardup_pairs"))


def _emb_neardup_sql() -> str:
    # the oracle computes the same corpus-sized bit count in SQL so both
    # sides bucket identically at any scale factor
    return f"""
WITH b AS (
  SELECT greatest(1, CAST(ceil(log2(greatest(count(*) / {NEARDUP_TARGET_BUCKET}.0, 2.0))) AS INT)) AS bits
  FROM embeddings
),
e AS (
  SELECT vec_id,
         array_to_string(list_transform(embedding[1:(SELECT bits FROM b)],
             x -> CASE WHEN x >= 0 THEN '+' ELSE '-' END), '') AS bucket,
         embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.bucket,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (a.nrm * b.nrm) AS cos
  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT bucket, count(*) AS n_neardup_pairs FROM pairs WHERE cos >= 0.3 GROUP BY bucket
"""


# --- near-dup cluster resolution (iterative connected components) ---------------

CC_MAX_ITERS = 30  # bound >> expected diameter of capped-bucket graphs


def _cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(node, label) connected-component fixpoint over the LSH
    candidate-pair graph via iterative hash-to-min label propagation —
    every node repeatedly adopts the minimum label in its closed
    neighborhood. Each iteration is one shuffle over the EDGE list
    (never materializing components), and iterations are bounded by
    graph diameter — the standard MapReduce/Spark CC shape that holds
    at 100 TB, unlike any per-component collect. The returned frame is
    localCheckpointed (materialized, no lineage into the edge frames,
    which are unpersisted before returning)."""
    edges = _lsh_candidate_pairs(spark, sf_dir, MAX_SHINGLE_BUCKET).persist()
    # symmetric closure once; labels start as the node id
    sym = edges.union(
        edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
    ).persist()
    nodes = sym.select(F.col("d1").alias("node")).distinct()
    # localCheckpoint per iteration: persist alone is NOT enough for an
    # iterative loop — a partially-materialized cache (e.g. after an
    # early-stopping action) recomputes through a lineage that nests one
    # level per iteration, and analysis cost alone goes superlinear.
    # Checkpointing truncates the plan to the materialized partitions.
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint(eager=True)
    changed = 0
    for _ in range(CC_MAX_ITERS):
        neighbor_min = (
            sym.join(labels, sym.d2 == labels.node)
            .groupBy(F.col("d1").alias("node"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nmin", F.col("label"))
                ).alias("label"),
            )
        ).localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # a component with diameter > CC_MAX_ITERS would silently return
        # partial labels (diverging from the recursive-CTE oracle) — fail
        # loudly instead; hash-to-min converges in O(diameter) rounds, so
        # hitting this means the cap needs raising for this graph
        raise RuntimeError(
            f"connected components did not converge within {CC_MAX_ITERS} "
            "label-propagation iterations (graph diameter exceeds the cap)"
        )
    # labels is eagerly localCheckpointed — safe to release the inputs
    sym.unpersist()
    edges.unpersist()
    return labels


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram over the near-dup graph — the
    cluster-resolution step every dedup pipeline needs after candidate
    generation (keep one doc per component). The iterative algorithm
    lives in ``_cc_labels``; the DuckDB oracle computes the same
    fixpoint with a recursive CTE, so the ITERATIVE algorithm is still
    exactly oracle-checked."""
    labels = _cc_labels(spark, sf_dir)
    sizes = labels.groupBy("label").agg(F.count("*").alias("size"))
    return sizes.groupBy("size").agg(F.count("*").alias("n_components"))


_CC_WALK_SQL = f"""
WITH sig AS ({_minhash_sql()}),
bands AS (
  SELECT doc_id, md5(concat(m0, '|', m1)) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, md5(concat(m2, '|', m3)) AS bucket FROM sig
),
posting AS (
  SELECT bucket, list_sort(list_distinct(list(doc_id))) AS ds
  FROM bands GROUP BY bucket
  HAVING len(list_distinct(list(doc_id))) BETWEEN 2 AND {MAX_SHINGLE_BUCKET}
),
edges AS (
  SELECT DISTINCT a.d1, b.d2
  FROM (
    SELECT unnest(ds) AS d1, bucket FROM posting
  ) a JOIN (
    SELECT unnest(ds) AS d2, bucket FROM posting
  ) b USING (bucket)
  WHERE a.d1 < b.d2
),
sym AS (
  SELECT d1, d2 FROM edges UNION ALL SELECT d2, d1 FROM edges
),
nodes AS (SELECT DISTINCT d1 AS node FROM sym),
walk AS (
  -- all labels reachable from each node; min per node = component id
  WITH RECURSIVE r(node, label) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT s.d1, r.label FROM r JOIN sym s ON s.d2 = r.node
  )
  SELECT node, min(label) AS label FROM r GROUP BY node
)"""

_ORACLE_CC = f"""{_CC_WALK_SQL},
sizes AS (SELECT label, count(*) AS size FROM walk GROUP BY label)
SELECT size, count(*) AS n_components FROM sizes GROUP BY size
"""


QUERIES = {
    "exact_dup_clusters": q_exact_dup_clusters,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_buckets": q_minhash_lsh_buckets,
    "simhash_histogram": q_simhash,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "embedding_neardup": q_embedding_neardup,
    "neardup_components": q_neardup_components,
}

ORACLES = {
    "exact_dup_clusters": _ORACLE_EXACT,
    "minhash_signatures": _minhash_sql(),
    "minhash_lsh_buckets": _ORACLE_LSH,
    "simhash_histogram": _simhash_sql(),
    "ngram_jaccard_pairs": _ORACLE_JACCARD,
    "embedding_neardup": _emb_neardup_sql(),
    "neardup_components": _ORACLE_CC,
}


# --- leakage-safe train/val/test split -------------------------------------
# split fractions: [0, TRAIN) train, [TRAIN, VAL) val, [VAL, 1) test
SPLIT_TRAIN_FRAC = 0.90
SPLIT_VAL_FRAC = 0.95


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe split assignment: the train/val/test decision
    is a pure function of a document's near-dup COMPONENT id — not the
    doc itself — so every member of a near-duplicate cluster lands in
    the same split and no eval doc has a training-set twin (the
    train-test leakage mode doc-level hashing cannot prevent; cf. Lee
    et al. 2022 on duplicate-driven eval contamination). Docs outside
    any LSH candidate pair are their own singleton component. The hash
    is the portable md5-prefix fraction stratified_sample uses —
    deterministic across engines, retries, and partitionings. Scale
    shape: CC labels (one edge shuffle per iteration, diameter-bounded)
    + one left join on the label frame + one rollup. The label join
    carries NO broadcast hint on purpose: labels holds every doc that
    appears in any LSH candidate pair, which in a high-duplication
    corpus (the regime dedup pipelines exist for) is O(corpus) rows —
    AQE picks broadcast when the frame is actually small and a shuffle
    join when it isn't."""
    return _split_assignment(spark, sf_dir).groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("key").alias("n_clusters"),
        F.sum("tok").alias("n_tokens"),
    )


def _split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level (doc_id, tok, key, split) frame q_leakage_safe_split
    aggregates — exposed so tests can assert the same-split-per-
    component property on the operator's OWN assignments rather than a
    re-derivation of the rule."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("tok")
    )
    labels = _cc_labels(spark, sf_dir)
    keyed = (
        docs.join(labels, docs.doc_id == labels.node, "left")
        .select("doc_id", "tok", F.coalesce("label", "doc_id").alias("key"))
    )
    u = (
        F.conv(F.substring(F.md5(F.col("key").cast("string")), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(16**13))
    )
    split = (
        F.when(u < SPLIT_TRAIN_FRAC, "train")
        .when(u < SPLIT_VAL_FRAC, "val")
        .otherwise("test")
    )
    return keyed.select("doc_id", "tok", "key", split.alias("split"))


_ORACLE_SPLIT = f"""{_CC_WALK_SQL},
d AS (SELECT doc_id, len(string_split(text, ' ')) AS tok,
             coalesce(w.label, doc_id) AS key
      FROM documents LEFT JOIN walk w ON doc_id = w.node),
u AS (SELECT tok, key,
        CAST(concat('0x', substring(md5(CAST(key AS VARCHAR)), 1, 13)) AS BIGINT)
          / CAST(POWER(16, 13) AS DOUBLE) AS u
      FROM d)
SELECT CASE WHEN u < {SPLIT_TRAIN_FRAC} THEN 'train'
            WHEN u < {SPLIT_VAL_FRAC} THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS n_docs, count(DISTINCT key) AS n_clusters,
       CAST(sum(tok) AS BIGINT) AS n_tokens
FROM u GROUP BY 1
"""


# --- semantic dedup (cluster-scoped, SemDeDup-style) ------------------------
SEMDEDUP_TAU = 0.3  # cosine threshold; production SemDeDup uses ~0.95 —
                    # the synthetic corpus's planted near-dups sit lower,
                    # and the operator shape is identical at any tau
SEMDEDUP_TILE = 1024  # row tile for the in-cell cosine matmul: memory per
                      # task stays O(tile·m + m·d) even on a skewed cell


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-scoped semantic dedup (the SemDeDup layout, Abbas et al.
    2023, arXiv:2303.09540): assign every embedding to its IVF coarse
    cell (K = √n seed centroids, shared with the ANN index — one
    pandas-UDF argmax pass, one row out per row in), then resolve
    duplicates WITHIN each cell via ``applyInPandas``: one task per
    cell computes the m×m cosine matrix in tiles and marks a vector as
    a duplicate iff some lower-vec_id cell-mate has cosine ≥ tau (the
    deterministic keep-first rule). Output is the per-cell dedup ledger
    (members / duplicates / kept).

    Scale shape: ONE shuffle on cid, and the pairwise scores never
    materialize as rows — the n²/K candidate space stays inside the
    kernel's tiled matmul (BLAS), with only K ledger rows out. That is
    the property that makes SemDeDup run at 100 TB where a pair-join
    would not; cells are ~√n so per-task work is O(n) floats, tiled.
    The DuckDB oracle re-derives the same ledger declaratively (cell
    CTE + pair join), so the kernel's keep-first semantics are exactly
    hash-checked, not just row-counted."""
    import numpy as np
    import pandas as pd

    from .similarity import _ivf_cells_cached

    cells = _ivf_cells_cached(spark, sf_dir)  # vec_id, v, cid

    def ledger(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        x = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        n = x.shape[0]
        nrm = np.sqrt((x * x).sum(axis=1))
        dup = np.zeros(n, dtype=bool)
        col = np.arange(n)
        for lo in range(0, n, SEMDEDUP_TILE):
            hi = min(lo + SEMDEDUP_TILE, n)
            cos = (x[lo:hi] @ x.T) / (nrm[lo:hi, None] * nrm[None, :])
            # round before the threshold so BLAS-vs-list_sum summation
            # ulps can't flip a boundary pair between engines
            hit = np.round(cos, 6) >= SEMDEDUP_TAU
            earlier = col[None, :] < np.arange(lo, hi)[:, None]
            dup[lo:hi] = (hit & earlier).any(axis=1)
        n_dups = int(dup.sum())
        return pd.DataFrame(
            {
                "cid": [int(pdf["cid"].iloc[0])],
                "n_vectors": [n],
                "n_dups": [n_dups],
                "n_kept": [n - n_dups],
            }
        )

    return cells.groupBy("cid").applyInPandas(
        ledger, "cid long, n_vectors long, n_dups long, n_kept long"
    )


def _semdedup_sql() -> str:
    from .similarity import _IVF_CELLS_SQL

    return f"""{_IVF_CELLS_SQL},
dups AS (
  SELECT DISTINCT a.cid, b.vec_id AS dup_id
  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (a.nrm * b.nrm), 6)
        >= {SEMDEDUP_TAU}
),
d AS (SELECT cid, count(*) AS n_dups FROM dups GROUP BY cid),
m AS (SELECT cid, count(*) AS n_vectors FROM cells GROUP BY cid)
SELECT m.cid, m.n_vectors,
       CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_dups,
       m.n_vectors - CAST(coalesce(d.n_dups, 0) AS BIGINT) AS n_kept
FROM m LEFT JOIN d USING (cid)
"""


# --- Bloom-filter seen-set (crawl-frontier membership) ----------------------
BLOOM_BITS_PER_KEY = 4   # m = 4·n bits: theoretical FPR with k=4 is
                         # (1 - e^(-1))^4 ≈ 16%, deliberately tight so
                         # the probe panel actually exercises the
                         # false-positive path at test scale (at 16
                         # bits/key — the production setting — FPR is
                         # 0.24% and 50 probes never fire). The filter
                         # grows WITH the corpus, like the LSH bucket
                         # count — never a fixed m that saturates.
BLOOM_K = 4              # hash functions: salted 13-hex-char md5 slices
BLOOM_PROBE_N = 50       # probe panel size per arm


def _bloom_pos(col, j: int, m_expr):
    """Bit position j: the first 13 hex chars (52 bits) of the
    j-SALTED md5 (portable across engines, same construction as the
    CMS per-depth hashes) mod the filter size. Salting — not disjoint
    slices of one digest — keeps the address space 52-bit per hash, so
    m can grow with the corpus past 2^32 bits (disjoint 8-hex slices
    would pin the reachable space at 4 Gbit and silently saturate the
    filter at ~1 G keys)."""
    return md5_bucket(f"{j}:", col, m_expr)


def q_bloom_seen_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership over document content — the "have we
    seen this?" primitive a crawl frontier or ingest dedup keeps when
    the key set is too large to join against: m = BLOOM_BITS_PER_KEY·n
    bits (4·n here — theoretical FPR 16%, deliberately tight so the
    panel exercises the false-positive path at test scale; production
    would use 16·n for 0.24%), k = 4 salted-md5 hashes, built as a
    DISTINCT set-bit frame (one shuffle; partial filters from any
    partitioning merge by union, so the build is mergeable exactly like
    the CMS sketch). The probe panel runs two arms through the filter
    in the same query: the first N documents' exact text (structurally
    guaranteed hits — a Bloom filter has no false negatives) and the
    same texts mutated (novel keys, so every hit is a FALSE POSITIVE).
    Output carries filter geometry, fill, and both arms' hit counts, so
    the realized FPR is measured against the theoretical one rather
    than assumed."""
    docs = load(spark, sf_dir, "documents")
    n = docs.count()  # metadata-only (parquet/Iceberg footer count)
    m = BLOOM_BITS_PER_KEY * max(n, 1)
    bits = (
        docs.select(
            F.explode(
                F.array(
                    *[_bloom_pos(F.col("text"), j, m) for j in range(BLOOM_K)]
                )
            ).alias("b")
        )
        .distinct()
    )
    probes = docs.filter(F.col("doc_id") < BLOOM_PROBE_N).select(
        "doc_id", "text"
    )
    panel = probes.select(
        "doc_id", F.lit("seen").alias("arm"), F.col("text").alias("key")
    ).unionByName(
        probes.select(
            "doc_id",
            F.lit("novel").alias("arm"),
            F.concat("text", F.lit("#novel")).alias("key"),
        )
    )
    panel_pos = panel.select(
        "doc_id",
        "arm",
        F.explode(
            F.array(*[_bloom_pos(F.col("key"), j, m) for j in range(BLOOM_K)])
        ).alias("b"),
    )
    # membership = ALL k positions set; the inner join drops unset ones.
    # Broadcast the PANEL (2 arms x BLOOM_PROBE_N x k rows, constant),
    # never the bit frame — the filter's set bits grow with the corpus
    # and would not fit as a broadcast at seen-set scale
    hits = (
        bits.join(F.broadcast(panel_pos), "b")
        .groupBy("doc_id", "arm")
        .agg(F.count("*").alias("n_set"))
        .filter(F.col("n_set") == BLOOM_K)
        .groupBy("arm")
        .agg(F.count("*").alias("n_hits"))
    )
    geom = bits.agg(F.count("*").alias("n_set_bits")).select(
        F.lit(int(m)).cast("long").alias("m_bits"),
        "n_set_bits",
        F.lit(int(BLOOM_K)).cast("long").alias("k_hashes"),
    )
    arms = (
        hits.groupBy()
        .pivot("arm", ["seen", "novel"])
        .sum("n_hits")
        .select(
            F.coalesce("seen", F.lit(0)).cast("long").alias("n_seen_hits"),
            F.coalesce("novel", F.lit(0)).cast("long").alias("n_novel_hits"),
        )
    )
    return geom.crossJoin(arms)


def _bloom_sql() -> str:
    slices = ", ".join(str(j) for j in range(BLOOM_K))
    return f"""
WITH m AS (SELECT {BLOOM_BITS_PER_KEY} * greatest(count(*), 1) AS mb
           FROM documents),
js AS (SELECT unnest([{slices}]) AS j),
bits AS (
  SELECT DISTINCT
    {md5_bucket_sql("concat(js.j, ':')", 'text', '(SELECT mb FROM m)')} AS b
  FROM documents CROSS JOIN js
),
probes AS (SELECT doc_id, text FROM documents WHERE doc_id < {BLOOM_PROBE_N}),
panel AS (
  SELECT doc_id, 'seen' AS arm, text AS key FROM probes
  UNION ALL
  SELECT doc_id, 'novel' AS arm, text || '#novel' AS key FROM probes
),
panel_pos AS (
  SELECT doc_id, arm,
    {md5_bucket_sql("concat(js.j, ':')", 'key', '(SELECT mb FROM m)')} AS b
  FROM panel CROSS JOIN js
),
hits AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n_hits FROM (
    SELECT doc_id, arm, count(*) AS n_set
    FROM panel_pos JOIN bits USING (b)
    GROUP BY 1, 2
  ) WHERE n_set = {BLOOM_K}
  GROUP BY arm
)
SELECT CAST((SELECT mb FROM m) AS BIGINT) AS m_bits,
       (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_set_bits,
       CAST({BLOOM_K} AS BIGINT) AS k_hashes,
       CAST(coalesce((SELECT n_hits FROM hits WHERE arm = 'seen'), 0)
            AS BIGINT) AS n_seen_hits,
       CAST(coalesce((SELECT n_hits FROM hits WHERE arm = 'novel'), 0)
            AS BIGINT) AS n_novel_hits
"""


EXTRA_QUERIES = {
    "leakage_safe_split": q_leakage_safe_split,
    "semantic_dedup": q_semantic_dedup,
    "bloom_seen_probe": q_bloom_seen_probe,
    "source_overlap_matrix": q_source_overlap_matrix,
    "minhash_lsh_recall": q_minhash_lsh_recall,
}

EXTRA_ORACLES = {
    "leakage_safe_split": _ORACLE_SPLIT,
    "semantic_dedup": _semdedup_sql(),
    "bloom_seen_probe": _bloom_sql(),
    "source_overlap_matrix": _ORACLE_SOURCE_OVERLAP,
    "minhash_lsh_recall": _lsh_recall_sql(),
}


# --- passage-level substring dedup ------------------------------------------
# The one dedup family the doc-level ops above don't cover: EXACT
# REPEATED PASSAGES shared across documents (boilerplate, licenses,
# templated intros) — the substring-granularity dedup of Lee et al. 2022
# ("Deduplicating Training Data Makes Language Models Better"), whose
# suffix-array construction we approximate distributedly at token-shingle
# granularity: a run of R consecutive matching W-token shingles between
# two documents IS a shared passage of R+W-1 tokens.
PASSAGE_W = 8             # token shingle width (passage granularity)
PASSAGE_MIN_TOKENS = 20   # shortest duplicated passage worth reporting
PASSAGE_MAX_POSTING = 64  # frequent-shingle cap (same rationale as
                          # MAX_SHINGLE_BUCKET: a boilerplate shingle in
                          # every doc would pair-explode; docs sharing a
                          # LONG passage still match on its rarer
                          # shingles, so recall degrades gracefully)


def q_duplicate_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated passages: for every unordered doc pair,
    every maximal run of >= PASSAGE_MIN_TOKENS tokens that appears
    verbatim in both (start positions + token length).

    Shape, built for 100 TB: ONE shuffle groups (doc_id, pos) posting
    lists by shingle, capped at PASSAGE_MAX_POSTING occurrences (drop
    ubiquitous shingles instead of pair-exploding on them); candidate
    (pos_a, pos_b) pairs are generated map-side inside each tiny posting
    list; consecutive matches lie on a common DIAGONAL (pos_a - pos_b
    constant), so maximal runs fall out of a gaps-and-islands window
    partitioned by (doc_a, doc_b, diagonal) — partitions are per-pair
    match sets, never corpus-sized. No suffix array, no all-pairs scan."""
    docs = widen(load(spark, sf_dir, "documents"))
    base = docs.select("doc_id", F.split("text", " ").alias("l"))
    sh = (
        base.filter(F.size("l") >= PASSAGE_W)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(l)-{PASSAGE_W - 1}), "
                    f"i -> array_join(slice(l, i, {PASSAGE_W}), ' '))"
                )
            ).alias("p0", "s"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "s")
    )
    posts = (
        sh.groupBy("s")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("ps"))
        .filter((F.size("ps") >= 2) & (F.size("ps") <= PASSAGE_MAX_POSTING))
    )
    m = (
        posts.select(F.explode("ps").alias("a"), F.col("ps"))
        .select("a", F.explode("ps").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
    )
    wrun = Window.partitionBy("da", "db", "diag").orderBy("pa")
    runs = (
        m.withColumn("diag", F.col("pa") - F.col("pb"))
        .withColumn("isl", F.col("pa") - F.row_number().over(wrun))
        .groupBy("da", "db", "diag", "isl")
        .agg(
            F.count("*").alias("rl"),
            F.min("pa").alias("sa"),
            F.min("pb").alias("sb"),
        )
    )
    return (
        runs.filter(F.col("rl") + (PASSAGE_W - 1) >= PASSAGE_MIN_TOKENS)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.col("sa").cast("long").alias("start_a"),
            F.col("sb").cast("long").alias("start_b"),
            (F.col("rl") + (PASSAGE_W - 1)).cast("long").alias("passage_tokens"),
        )
    )


_ORACLE_PASSAGES = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (SELECT doc_id, i AS pos, array_to_string(l[i:i+{PASSAGE_W - 1}], ' ') AS s
       FROM toks, unnest(range(1, len(l) - {PASSAGE_W - 2})) AS t(i)),
ok AS (SELECT s FROM sh GROUP BY s
       HAVING count(*) BETWEEN 2 AND {PASSAGE_MAX_POSTING}),
m AS (SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
      FROM sh a JOIN ok USING (s) JOIN sh b USING (s)
      WHERE a.doc_id < b.doc_id),
runs AS (SELECT da, db, pa - pb AS diag, pa, pb,
                pa - row_number()
                       OVER (PARTITION BY da, db, pa - pb ORDER BY pa) AS isl
         FROM m),
agg AS (SELECT da, db, count(*) AS rl, min(pa) AS sa, min(pb) AS sb
        FROM runs GROUP BY da, db, diag, isl)
SELECT da AS doc_a, db AS doc_b, CAST(sa AS BIGINT) AS start_a,
       CAST(sb AS BIGINT) AS start_b,
       CAST(rl + {PASSAGE_W - 1} AS BIGINT) AS passage_tokens
FROM agg WHERE rl + {PASSAGE_W - 1} >= {PASSAGE_MIN_TOKENS}
"""


EXTRA_QUERIES["duplicate_passages"] = q_duplicate_passages
EXTRA_ORACLES["duplicate_passages"] = _ORACLE_PASSAGES


# --- PageRank authority over the near-dup similarity graph -------------------
# Which copy of a near-duplicate cluster should survive dedup? The
# highest-authority one — the standard curation answer (keep the
# canonical page, drop the scrapes). Authority here is PageRank
# (Brin-Page 1998) over the MinHash-band similarity graph: nodes are
# documents, edges are banded LSH candidate pairs (the same capped
# bucket explosion as the recall panel, so edge count stays ~linear in
# corpus size). Two Lloyd-style synchronous iterations, each ONE
# shuffle on the edge key — the same bounded-iteration shape as the
# connected-components resolver (which localCheckpoints lineage for
# deeper runs). Ranks round to PR_ROUND decimals each iteration, so
# both engines iterate on bit-identical values regardless of their
# per-group summation order. Teleport and damping constants are
# embedded from the same Python floats on both sides (1 - 0.85 is NOT
# the double 0.15 — reusing the literal would diverge the engines).
PR_DAMPING = 0.85
PR_TELEPORT = 1.0 - PR_DAMPING
PR_ITERS = 2
PR_TOP = 16
PR_ROUND = 9


def q_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PR_TOP authority documents of the near-dup graph:
    (rank, doc_id, pr, degree). Isolated documents hold the pure
    teleport rank and are excluded from the panel (they have no dedup
    decision to win). The final top-K is a distributed TakeOrdered +
    a statistics-sized re-rank, the kNN pattern."""
    import pyarrow.parquet as pq

    from . import table_path
    from pyspark.sql import Window

    n_docs = pq.ParquetFile(table_path(sf_dir, "documents")).metadata.num_rows
    cand = _lsh_candidate_pairs(spark, sf_dir)
    edges = cand.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).union(cand.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # materialize the edge table ONCE and truncate lineage (the CC
    # resolver's localCheckpoint pattern): every iteration and the
    # final degree join otherwise re-derives signatures -> bands ->
    # pairs from the corpus, multiplying the exchange count by the
    # reference count (measured: 59 exchanges without, 7 with)
    out_edges = edges.join(deg, "src").localCheckpoint()
    degs = out_edges.groupBy(F.col("src").alias("doc")).agg(
        F.max("deg").alias("deg")
    )
    r0 = round(1.0 / n_docs, PR_ROUND)
    ranks = degs.select("doc", F.lit(r0).alias("r"))
    base = PR_TELEPORT / n_docs
    for _ in range(PR_ITERS):
        contrib = out_edges.join(
            ranks, out_edges["src"] == ranks["doc"]
        ).select("dst", (F.col("r") / F.col("deg")).alias("c"))
        ranks = contrib.groupBy(F.col("dst").alias("doc")).agg(
            F.round(F.lit(base) + F.lit(PR_DAMPING) * F.sum("c"), PR_ROUND).alias("r")
        )
    top = ranks.join(degs.withColumnRenamed("doc", "ddoc"), ranks["doc"] == F.col("ddoc")).select(
        ranks["doc"].alias("doc_id"), "r", "deg"
    ).orderBy(F.desc("r"), "doc_id").limit(PR_TOP)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("r"), "doc_id"))
        .cast("long")
        .alias("rank"),
        "doc_id",
        F.col("r").alias("pr"),
        F.col("deg").alias("degree"),
    )


def _pagerank_sql() -> str:
    it = f"""
SELECT e.dst AS doc,
       round({PR_TELEPORT!r} / n.n + {PR_DAMPING!r} * sum(r.r / e.deg), {PR_ROUND}) AS r
FROM oedges e JOIN {{prev}} r ON e.src = r.doc CROSS JOIN n
GROUP BY e.dst, n.n
"""
    return f"""
WITH {_ORACLE_LSH_CAND_CTES},
edges AS (
  SELECT d1 AS src, d2 AS dst FROM cand
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM cand
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
oedges AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src),
n AS (SELECT count(*) AS n FROM documents),
r0 AS (SELECT src AS doc, round(1.0 / n.n, {PR_ROUND}) AS r FROM deg CROSS JOIN n),
r1 AS ({it.format(prev="r0")}),
r2 AS ({it.format(prev="r1")}),
top AS (
  SELECT r2.doc AS doc_id, r2.r, d.deg
  FROM r2 JOIN deg d ON r2.doc = d.src
  ORDER BY r2.r DESC, doc_id LIMIT {PR_TOP}
)
SELECT CAST(row_number() OVER (ORDER BY r DESC, doc_id) AS BIGINT) AS rank,
       doc_id, r AS pr, deg AS degree
FROM top
"""


# the banded candidate-pair CTEs, same construction as the recall
# panel's oracle (self-join inside capped buckets)
_ORACLE_LSH_CAND_CTES = f"""sig AS ({_minhash_sql()}),
bands AS (
  SELECT doc_id, 0 AS band, md5(concat(m0, '|', m1)) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(concat(m2, '|', m3)) AS bucket FROM sig
),
ok_cand AS (
  SELECT band, bucket FROM bands GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND {LSH_RECALL_MAX_BUCKET}
),
bf AS (SELECT bands.* FROM bands JOIN ok_cand USING (band, bucket)),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bf a JOIN bf b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""


EXTRA_QUERIES["neardup_pagerank"] = q_neardup_pagerank
EXTRA_ORACLES["neardup_pagerank"] = _pagerank_sql()


# --------------------------------------------------------------------------
# canonical-document selection (round 5)
# --------------------------------------------------------------------------
# Real pipelines do not drop near-duplicates at random: within each
# duplicate cluster they KEEP THE BEST COPY (longest, highest-quality —
# the "canonical" selection step of URL-canonicalization / CC-style
# dedup; cf. Lee et al. 2022 "Deduplicating Training Data Makes
# Language Models Better" §3, which keeps one exemplar per cluster).
# Cluster key: the md5 prefix fingerprint (same blocking key as
# fingerprint_clusters); keep policy: longest text wins, doc_id breaks
# ties deterministically.


def q_neardup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source keep/drop accounting of canonical selection. Scale
    shape: ONE shuffle keyed by the cluster fingerprint (row_number
    window over fp partitions — clusters are prefix-blocks, thousands of
    docs at most, so no partition skew), then one per-source aggregate.
    No driver-side state, no cross-cluster dependency."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 3), " "))
    w = W.partitionBy("fp").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    ranked = docs.select(
        "doc_id", "source", "n_chars", fp.alias("fp")
    ).withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("rn") == 1).cast("long")).alias("n_keepers"),
        F.sum((F.col("rn") != 1).cast("long")).alias("n_dropped"),
        F.round(
            F.avg(F.when(F.col("rn") == 1, F.col("n_chars"))), 2
        ).alias("avg_keeper_chars"),
    )


_ORACLE_CANONICAL = """
WITH ranked AS (
  SELECT source, n_chars, doc_id,
         row_number() OVER (
           PARTITION BY md5(array_to_string(string_split(text, ' ')[1:3], ' '))
           ORDER BY n_chars DESC, doc_id ASC
         ) AS rn
  FROM documents
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_keepers,
       CAST(sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       round(avg(CASE WHEN rn = 1 THEN n_chars END), 2) AS avg_keeper_chars
FROM ranked
GROUP BY source
"""

EXTRA_QUERIES["neardup_canonical"] = q_neardup_canonical
EXTRA_ORACLES["neardup_canonical"] = _ORACLE_CANONICAL


# --------------------------------------------------------------------------
# near-dup graph census: triangles + clustering coefficient (round 5)
# --------------------------------------------------------------------------
# A dedup index is only as good as its candidate graph, and the graph's
# transitivity is the one-number health check: band-blocking of true
# duplicate CLUSTERS produces closed triangles (high clustering
# coefficient), while hash-collision noise produces open wedges. The
# census is the standard ordered-triple triangle join (each triangle
# counted once as d1 < d2 < d3) over the SAME capped edge table the
# PageRank/CC family uses — bucket caps bound both the edge count and
# the join fan-out, so no quadratic blow-up exists at any corpus size.
# (For power-law graphs beyond LSH blocking, orient edges low-degree ->
# high-degree first — the compact-forward trick; the capped-bucket graph
# here has bounded degree by construction, so the plain ordered join is
# already fan-out-bounded.)
TRI_ROUND = 6


def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row graph census: (n_nodes, n_edges, n_triangles, n_wedges,
    clustering_coeff). Wedges = sum over nodes of C(deg, 2) — exact,
    from the degree table, no path enumeration. The edge table is
    localCheckpointed once (the PageRank lineage rule): the triangle
    join references it three times."""
    cand = _lsh_candidate_pairs(spark, sf_dir).localCheckpoint()
    edges = cand.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).union(
        cand.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    base = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("(deg * (deg - 1)) div 2")).alias("n_wedges"),
    )
    e1, e2, e3 = cand.alias("e1"), cand.alias("e2"), cand.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.d2") == F.col("e2.d1"))
        .join(
            e3,
            (F.col("e3.d1") == F.col("e1.d1"))
            & (F.col("e3.d2") == F.col("e2.d2")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    n_edges = cand.agg(F.count("*").alias("n_edges"))
    cc = F.when(
        F.col("n_wedges") > 0,
        F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), TRI_ROUND),
    ).otherwise(F.lit(0.0))
    return (
        base.crossJoin(n_edges)
        .crossJoin(tri)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            cc.alias("clustering_coeff"),
        )
    )


def _triangles_sql() -> str:
    return f"""
WITH {_ORACLE_LSH_CAND_CTES},
edges AS (
  SELECT d1 AS src, d2 AS dst FROM cand
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM cand
),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
base AS (
  SELECT count(*) AS n_nodes,
         CAST(sum((deg * (deg - 1)) // 2) AS BIGINT) AS n_wedges
  FROM deg
),
tri AS (
  SELECT count(*) AS n_triangles
  FROM cand e1
  JOIN cand e2 ON e2.d1 = e1.d2
  JOIN cand e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
),
ne AS (SELECT count(*) AS n_edges FROM cand)
SELECT n_nodes, n_edges, n_triangles, n_wedges,
       CASE WHEN n_wedges > 0
            THEN round(3.0 * n_triangles / n_wedges, {TRI_ROUND})
            ELSE 0.0 END AS clustering_coeff
FROM base, ne, tri
"""


EXTRA_QUERIES["neardup_triangles"] = q_neardup_triangles
EXTRA_ORACLES["neardup_triangles"] = _triangles_sql()


# --------------------------------------------------------------------------
# label-propagation communities (round 5)
# --------------------------------------------------------------------------
# Raghavan et al. 2007 synchronous LPA over the near-dup graph: every
# node starts as its own label, then repeatedly adopts the most frequent
# label in its CLOSED neighborhood (self-vote included — without it a
# 2-node community oscillates forever under synchronous updates), ties
# broken by the smallest label. Two synchronous rounds, each ONE
# edge-to-label join + ONE (node, label) count + ONE per-node argmax
# window — the same bounded-iteration layout as the PageRank operator
# (connected_components covers the run-to-fixpoint variant; LPA finds
# denser-than-component structure in fewer, cheaper rounds).
LPA_ITERS = 2


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-singleton LPA communities after LPA_ITERS synchronous
    rounds: (community, n_members). The edge table is localCheckpointed
    once; the per-node argmax runs as a map-side-combinable
    max(struct(count, -label)) aggregation rather than a row_number
    window (partial aggregation combines before the exchange; a window
    must sort every count row inside its partition). Shuffle volume is
    ~1.6x the edge table per run (SHUFFLE.json vs the edge-table
    in-ratio) — linear in the graph, whose own growth the capped
    banding bounds at bucket_cap x bands x corpus."""
    cand = _lsh_candidate_pairs(spark, sf_dir).localCheckpoint()
    edges = cand.select(F.col("d1").alias("src"), F.col("d2").alias("dst")).union(
        cand.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
    )
    labels = edges.select(F.col("src").alias("doc")).distinct().select(
        "doc", F.col("doc").alias("label")
    )
    for _ in range(LPA_ITERS):
        votes = edges.join(labels, edges["src"] == labels["doc"]).select(
            F.col("dst").alias("doc"), "label"
        ).union(labels.select("doc", "label"))
        counts = votes.groupBy("doc", "label").agg(F.count("*").alias("c"))
        # lexicographic struct max = (most votes, then smallest label)
        labels = (
            counts.groupBy("doc")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("doc", (-F.col("m.nl")).alias("label"))
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") > 1)
    )


def _lpa_sql() -> str:
    rnd = """
v{n} AS (
  SELECT e.dst AS doc, l.label FROM edges e JOIN l{p} l ON e.src = l.doc
  UNION ALL SELECT doc, label FROM l{p}
),
c{n} AS (SELECT doc, label, count(*) AS c FROM v{n} GROUP BY 1, 2),
l{n} AS (
  SELECT doc, label FROM (
    SELECT doc, label,
           row_number() OVER (PARTITION BY doc ORDER BY c DESC, label) AS rn
    FROM c{n}
  ) WHERE rn = 1
)"""
    rounds = ",".join(
        rnd.format(n=i + 1, p=i) for i in range(LPA_ITERS)
    )
    return f"""
WITH {_ORACLE_LSH_CAND_CTES},
edges AS (
  SELECT d1 AS src, d2 AS dst FROM cand
  UNION ALL
  SELECT d2 AS src, d1 AS dst FROM cand
),
l0 AS (SELECT DISTINCT src AS doc, src AS label FROM edges),
{rounds}
SELECT label AS community, count(*) AS n_members
FROM l{LPA_ITERS} GROUP BY 1 HAVING count(*) > 1
"""


EXTRA_QUERIES["lpa_communities"] = q_lpa_communities
EXTRA_ORACLES["lpa_communities"] = _lpa_sql()
