"""Text-analysis operators for training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring (length /
punctuation / stopword ratios), token counting (whitespace + BPE-ish
regex), and document fingerprinting — all as native column expressions
(JVM-side, whole-stage-codegen'd; no Python in the hot path), each with a
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import load, md5_bucket, md5_bucket_sql

# fixed stopword lists (tiny but deterministic signal)
_STOP = {
    "en": ("the", "and", "of", "to", "in"),
    "es": ("el", "de", "la", "que", "los"),
    "de": ("der", "und", "die", "das", "ist"),
    "fr": ("le", "et", "la", "les", "des"),
}
_EN_STOP_SQL = "('the','and','of','to','in')"


# --- token counting ----------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    # BPE-ish subword proxy: alpha runs + digit runs + single punct
    bpe = F.regexp_count(F.col("text"), F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"))
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg(F.size(tokens)), 4).alias("avg_ws_tokens"),
            F.round(F.avg(bpe), 4).alias("avg_bpe_tokens"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        )
    )


_ORACLE_TOKEN_STATS = r"""
SELECT lang,
       count(*) AS n_docs,
       round(avg(len(string_split(text, ' '))), 4) AS avg_ws_tokens,
       round(avg(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n]'))), 4) AS avg_bpe_tokens,
       round(avg(length(text)), 4) AS avg_chars
FROM documents
GROUP BY lang
"""


# --- quality scoring -----------------------------------------------------------

def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    n_tokens = F.size(tokens)
    stop_hits = F.size(F.filter(tokens, lambda t: t.isin(*_STOP["en"])))
    mean_word_len = F.length(F.translate(F.col("text"), " ", "")) / n_tokens
    quality = F.round(
        F.least(F.lit(1.0), n_tokens / F.lit(64.0)) * 0.5
        + (stop_hits / n_tokens) * 2.0
        + F.when((mean_word_len >= 3) & (mean_word_len <= 10), 0.3).otherwise(0.0),
        6,
    )
    return (
        docs.select("source", quality.alias("q"))
        .groupBy("source")
        .agg(F.round(F.avg("q"), 4).alias("avg_quality"), F.count("*").alias("n_docs"))
    )


_ORACLE_QUALITY = f"""
WITH scored AS (
  SELECT source,
         round(
           least(1.0, len(string_split(text, ' ')) / 64.0) * 0.5
           + (len(list_filter(string_split(text, ' '), t -> t IN {_EN_STOP_SQL}))
              / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 2.0
           + CASE WHEN length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE) BETWEEN 3 AND 10
                  THEN 0.3 ELSE 0.0 END,
           6) AS q
  FROM documents
)
SELECT source, round(avg(q), 4) AS avg_quality, count(*) AS n_docs
FROM scored GROUP BY source
"""


# --- language ID heuristic ------------------------------------------------------

def _hits(tokens, lang: str):
    return F.size(F.filter(tokens, lambda t: t.isin(*_STOP[lang])))


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    scored = docs.select(
        "lang",
        *[_hits(tokens, lg).alias(f"h_{lg}") for lg in _STOP],
    )
    guess = (
        F.when(
            (F.col("h_en") >= F.col("h_es"))
            & (F.col("h_en") >= F.col("h_de"))
            & (F.col("h_en") >= F.col("h_fr"))
            & (F.col("h_en") > 0),
            "en",
        )
        .when((F.col("h_es") >= F.col("h_de")) & (F.col("h_es") >= F.col("h_fr")) & (F.col("h_es") > 0), "es")
        .when((F.col("h_de") >= F.col("h_fr")) & (F.col("h_de") > 0), "de")
        .when(F.col("h_fr") > 0, "fr")
        .otherwise("unknown")
    )
    return (
        scored.select("lang", guess.alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count("*").alias("n"))
    )


def _hits_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in _STOP[lang])
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({words})))"


_ORACLE_LANGID = f"""
WITH scored AS (
  SELECT lang,
         {_hits_sql('en')} AS h_en,
         {_hits_sql('es')} AS h_es,
         {_hits_sql('de')} AS h_de,
         {_hits_sql('fr')} AS h_fr
  FROM documents
)
SELECT lang,
       CASE
         WHEN h_en >= h_es AND h_en >= h_de AND h_en >= h_fr AND h_en > 0 THEN 'en'
         WHEN h_es >= h_de AND h_es >= h_fr AND h_es > 0 THEN 'es'
         WHEN h_de >= h_fr AND h_de > 0 THEN 'de'
         WHEN h_fr > 0 THEN 'fr'
         ELSE 'unknown'
       END AS guessed,
       count(*) AS n
FROM scored
GROUP BY 1, 2
"""


# --- fingerprinting --------------------------------------------------------------

def q_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 fingerprint of the first 3 tokens → cluster size histogram."""
    docs = load(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 3), " ")
    return (
        docs.select(F.md5(prefix).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
    )


_ORACLE_FINGERPRINT = """
SELECT cluster_size, count(*) AS n_clusters
FROM (
  SELECT md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS fp,
         count(*) AS cluster_size
  FROM documents
  GROUP BY 1
)
GROUP BY cluster_size
"""


# --- composed corpus curation (the end-to-end training-data shape) --------------

CURATION_MIN_QUALITY = 0.7


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel in one declarative plan: quality score →
    threshold filter → exact dedup (keep lexicographically-first doc per
    content hash) → per-language survivor stats. This is the composition a
    training-data pipeline runs at 100 TB; every stage is JVM-side (one
    scan, one dedup shuffle, one aggregate shuffle — Catalyst pipelines
    the score+filter into the scan)."""
    docs = load(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    n_tokens = F.size(tokens)
    stop_hits = F.size(F.filter(tokens, lambda t: t.isin(*_STOP["en"])))
    mean_word_len = F.length(F.translate(F.col("text"), " ", "")) / n_tokens
    quality = (
        F.least(F.lit(1.0), n_tokens / F.lit(64.0)) * 0.5
        + (stop_hits / n_tokens) * 2.0
        + F.when((mean_word_len >= 3) & (mean_word_len <= 10), 0.3).otherwise(0.0)
    )
    scored = docs.select("doc_id", "lang", "text", quality.alias("q")).filter(
        F.col("q") >= CURATION_MIN_QUALITY
    )
    from pyspark.sql import Window as W

    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    )
    return (
        deduped.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
            F.round(F.avg(F.length("text")), 2).alias("avg_chars"),
        )
    )


_ORACLE_CURATION = f"""
WITH scored AS (
  SELECT doc_id, lang, text,
         least(1.0, len(string_split(text, ' ')) / 64.0) * 0.5
         + (len(list_filter(string_split(text, ' '), t -> t IN {_EN_STOP_SQL}))
            / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 2.0
         + CASE WHEN length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE) BETWEEN 3 AND 10
                THEN 0.3 ELSE 0.0 END AS q
  FROM documents
),
kept AS (SELECT * FROM scored WHERE q >= {{thr}}),
dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM kept)
  WHERE rn = 1
)
SELECT lang, count(*) AS n_docs, round(avg(q), 4) AS avg_quality,
       round(avg(length(text)), 2) AS avg_chars
FROM dedup GROUP BY lang
""".replace("{thr}", str(CURATION_MIN_QUALITY))


# --- deterministic stratified sampling ----------------------------------------
# per-language keep rates: downsample the dominant language, keep the
# rest — the standard corpus-rebalancing shape
SAMPLE_RATES = {"en": 0.25, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 0.5}
SAMPLE_DEFAULT_RATE = 1.0


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling: keep a doc iff the fractional
    value of md5(doc_id)'s first 13 hex chars is below its language's
    rate. Unlike rand()-based TABLESAMPLE, the decision is a pure
    function of the row — reproducible across retries/partitionings
    (the property a resumable 100 TB pipeline needs) and exactly
    oracle-checkable. Returns per-language kept counts."""
    docs = load(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(16 ** 13))
    )
    rate = F.lit(SAMPLE_DEFAULT_RATE)
    for lang, r in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    kept = docs.filter(u < rate)
    return (
        kept.groupBy("lang")
        .agg(F.count("*").alias("n_kept"))
        .join(
            docs.groupBy("lang").agg(F.count("*").alias("n_total")), "lang"
        )
        .select("lang", "n_kept", "n_total")
    )


_rate_sql = " ".join(
    f"WHEN lang = '{lang}' THEN {r}" for lang, r in SAMPLE_RATES.items()
)
_ORACLE_SAMPLE = f"""
WITH u AS (
  SELECT lang,
         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
           / CAST(POWER(16, 13) AS DOUBLE) AS u
  FROM documents
),
kept AS (
  SELECT lang FROM u
  WHERE u < CASE {_rate_sql} ELSE {SAMPLE_DEFAULT_RATE} END
)
SELECT t.lang, k.n_kept, t.n_total
FROM (SELECT lang, count(*) AS n_total FROM documents GROUP BY lang) t
JOIN (SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang) k USING (lang)
"""


QUERIES = {
    "token_stats": q_token_stats,
    "stratified_sample": q_stratified_sample,
    "quality_scores": q_quality_scores,
    "langid_heuristic": q_langid,
    "fingerprint_clusters": q_fingerprint_clusters,
    "corpus_curation": q_corpus_curation,
}

ORACLES = {
    "token_stats": _ORACLE_TOKEN_STATS,
    "stratified_sample": _ORACLE_SAMPLE,
    "quality_scores": _ORACLE_QUALITY,
    "langid_heuristic": _ORACLE_LANGID,
    "fingerprint_clusters": _ORACLE_FINGERPRINT,
    "corpus_curation": _ORACLE_CURATION,
}


# --------------------------------------------------------------------------
# extras (round 3): safety scrub + TF-IDF — registered AFTER the
# sacrificial tail in queries.py so a driver report cap can never
# displace longer-standing entries; still fully oracle-checked locally.
# --------------------------------------------------------------------------

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[A-Za-z0-9./_-]+"
_PHONE_RE = r"\d{3}-\d{2,4}-\d{4}"


def q_pii_scrub_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety/PII scrub — the redaction filter a training-data pipeline
    runs before anything else: detect emails / URLs / phone numbers and
    strip them. The driver corpus is word salad with no PII, so each
    class of marker is INJECTED deterministically from doc_id (same
    construction in the oracle) — the check validates detection counts
    and the redacted lengths on known-positive text, not vacuous zeros.
    All native regexp expressions (regexp_count / regexp_replace), one
    exchange for the final rollup."""
    d = F.col("doc_id")
    inj = (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" contact user"), d.cast("string"),
                F.lit("@example.com or "),
                F.lit("http://ex.org/p"), d.cast("string"),
            ),
        )
        .when(
            d % 3 == 1,
            F.concat(F.lit(" call 555-01"), F.lpad((d % 100).cast("string"), 2, "0"),
                     F.lit("-1234")),
        )
        .otherwise(F.lit(""))
    )
    docs = load(spark, sf_dir, "documents").select(
        (d % 3).alias("pii_class"), F.concat("text", inj).alias("t")
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("t", _EMAIL_RE, "[REDACTED]"),
            _URL_RE, "[REDACTED]",
        ),
        _PHONE_RE, "[REDACTED]",
    )
    per_doc = docs.select(
        "pii_class",
        F.regexp_count("t", F.lit(_EMAIL_RE)).alias("e"),
        F.regexp_count("t", F.lit(_URL_RE)).alias("u"),
        F.regexp_count("t", F.lit(_PHONE_RE)).alias("p"),
        F.length(redacted).alias("clean_len"),
    )
    return per_doc.groupBy("pii_class").agg(
        F.count("*").alias("n_docs"),
        F.sum("e").alias("n_emails"),
        F.sum("u").alias("n_urls"),
        F.sum("p").alias("n_phones"),
        F.sum("clean_len").alias("total_clean_len"),
    )


_ORACLE_PII = f"""
WITH injected AS (
  SELECT doc_id % 3 AS pii_class,
         text || CASE doc_id % 3
           WHEN 0 THEN ' contact user' || doc_id || '@example.com or http://ex.org/p' || doc_id
           WHEN 1 THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-1234'
           ELSE '' END AS t
  FROM documents
),
per_doc AS (
  SELECT pii_class,
         len(regexp_extract_all(t, '{_EMAIL_RE}')) AS e,
         len(regexp_extract_all(t, '{_URL_RE}')) AS u,
         len(regexp_extract_all(t, '{_PHONE_RE}')) AS p,
         length(regexp_replace(regexp_replace(regexp_replace(t,
           '{_EMAIL_RE}', '[REDACTED]', 'g'),
           '{_URL_RE}', '[REDACTED]', 'g'),
           '{_PHONE_RE}', '[REDACTED]', 'g')) AS clean_len
  FROM injected
)
SELECT pii_class, count(*) AS n_docs,
       CAST(sum(e) AS BIGINT) AS n_emails,
       CAST(sum(u) AS BIGINT) AS n_urls,
       CAST(sum(p) AS BIGINT) AS n_phones,
       CAST(sum(clean_len) AS BIGINT) AS total_clean_len
FROM per_doc GROUP BY pii_class
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top terms — the keyword/topic extraction stage
    of corpus analysis. tf = in-doc count, df = docs containing the term,
    idf = ln((N+1)/(df+1)); top-2 terms per doc ranked by score rounded
    to 6 decimals (kills engine-libm ulp divergence) with term as the
    tie-break, so the (doc_id, rank, term) output is engine-precision-
    independent. Shape: one shuffle for tf, one for df, broadcast join
    back — no per-doc loops, holds at any corpus size."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = (
        terms.select("doc_id", "term").distinct()
        .groupBy("term").agg(F.count("*").alias("df"))
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    score = F.round(
        F.col("tf")
        * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        6,
    )
    # df_ is vocabulary-sized (unbounded at web scale): no broadcast
    # hint — AQE broadcasts it while small, shuffle-joins it when not
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", score.alias("score"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("doc_id", "rank", "term")
    )


_ORACLE_TFIDF = """
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
t2 AS (SELECT doc_id, term FROM t WHERE term <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t2 GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t2 GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
s AS (
  SELECT tf.doc_id, tf.term,
         round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, rank, term FROM (
  SELECT doc_id, term,
         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
  FROM s
) WHERE rank <= 2
"""


# --- Gopher-style repetition filter ---------------------------------------
# thresholds sit at ~p90 of the corpus distribution so the flag is
# non-vacuous (flags ~10% of docs) without being the common case
REP_TOP_FRAC = 0.13   # most-frequent-token share of the doc
REP_DUP_FRAC = 0.06   # duplicate-bigram share of the doc


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filter (the Gopher/MassiveText rule
    family, Rae et al. 2021 §A1.1): flag documents whose most frequent
    token or duplicate-bigram share exceeds a threshold. Two shapes on
    purpose: the top-token share runs distributed (explode → tf →
    per-doc max — the layout that holds for arbitrarily long documents),
    while the bigram-dup share is a per-row higher-order-function
    expression (zero extra shuffle). One doc_id join + one rollup."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", F.split("text", " ").alias("l"))
    uni = base.select("doc_id", F.explode("l").alias("term"))
    tf = uni.groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    top = tf.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_tok")
    )
    # slice(l, i, 2) is 1-based → bigram i is (l[i], l[i+1]) 1-based,
    # matching the oracle; guard: sequence(1, 0) would run DESCENDING
    bgs = F.when(
        F.size("l") >= 2,
        F.expr("transform(sequence(1, size(l)-1), i -> array_join(slice(l, i, 2), ' '))"),
    ).otherwise(F.array().cast("array<string>"))
    bm = base.select(
        "doc_id",
        "source",
        (F.size(bgs) - F.size(F.array_distinct(bgs))).alias("dup_n"),
        F.size(bgs).alias("n_bg"),
    )
    top_frac = F.col("top_c") / F.col("n_tok")
    dup_frac = F.col("dup_n") / F.col("n_bg")
    flagged = (top_frac > REP_TOP_FRAC) | (dup_frac > REP_DUP_FRAC)
    return (
        bm.join(top, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(flagged.cast("long")).alias("n_flagged"),
            F.round(F.avg(top_frac), 4).alias("avg_top_frac"),
            F.round(F.avg(dup_frac), 4).alias("avg_dup_frac"),
        )
    )


_ORACLE_REPETITION = f"""
WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
uni AS (SELECT doc_id, unnest(l) AS term FROM toks),
tf AS (SELECT doc_id, term, count(*) AS c FROM uni GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok FROM tf GROUP BY 1),
bm AS (
  SELECT doc_id, source,
         CASE WHEN len(l) >= 2
              THEN list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])
              ELSE []::VARCHAR[] END AS bgs
  FROM toks
),
bf AS (SELECT doc_id, source, len(bgs) - len(list_distinct(bgs)) AS dup_n,
              len(bgs) AS n_bg
       FROM bm)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN top_c / CAST(n_tok AS DOUBLE) > {REP_TOP_FRAC}
                       OR dup_n / CAST(n_bg AS DOUBLE) > {REP_DUP_FRAC}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       round(avg(top_c / CAST(n_tok AS DOUBLE)), 4) AS avg_top_frac,
       round(avg(dup_n / CAST(n_bg AS DOUBLE)), 4) AS avg_dup_frac
FROM bf JOIN top USING (doc_id)
GROUP BY source
"""


# --- benchmark decontamination --------------------------------------------
DECON_SHINGLE = 4          # token n-gram width for the overlap test
DECON_BENCH_MOD = 97       # doc_id % 97 == 0 defines the "benchmark" set


def q_decontam_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training docs sharing any
    4-token shingle with a held-out "benchmark" set (here the
    deterministic doc_id % 97 == 0 subset standing in for an eval
    suite). Per-row shingling (higher-order functions, distinct'd
    before explode), benchmark side broadcast (eval suites are small by
    nature — the corpus never shuffles on content), one groupBy(doc_id)
    for the hit counts. Output: contaminated doc_id → distinct hit
    shingles."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.split("text", " ").alias("l"))
    sh = F.when(
        F.size("l") >= DECON_SHINGLE,
        F.expr(
            f"array_distinct(transform(sequence(1, size(l)-{DECON_SHINGLE - 1}), "
            f"i -> array_join(slice(l, i, {DECON_SHINGLE}), ' ')))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingled = base.select("doc_id", F.explode(sh).alias("s"))
    bench = (
        shingled.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("s")
        .distinct()
    )
    return (
        shingled.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


_ORACLE_DECONTAM = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(
           CASE WHEN len(l) >= {DECON_SHINGLE}
                THEN list_transform(range(1, len(l) - {DECON_SHINGLE - 2}),
                                    i -> array_to_string(l[i:i+{DECON_SHINGLE - 1}], ' '))
                ELSE []::VARCHAR[] END)) AS s
  FROM toks
),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {DECON_BENCH_MOD} = 0)
SELECT sh.doc_id, count(*) AS n_hits
FROM sh JOIN bench USING (s)
WHERE sh.doc_id % {DECON_BENCH_MOD} <> 0
GROUP BY 1
"""


# --- unigram LM likelihood filter -----------------------------------------
# p10 of the per-doc avg logprob distribution: flags out-of-distribution
# docs (the CCNet-style LM-perplexity filter, with the corpus's own
# unigram model standing in for the external KenLM)
UNIGRAM_LP_MIN = -3.41


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-likelihood quality filter: score each document by the mean
    unigram log-probability of its tokens under the corpus's own unigram
    model, and flag low-likelihood docs (CCNet's perplexity filtering,
    Wenzek et al. 2020, with a self-trained unigram LM). Shapes: one tf
    shuffle builds the model, the model joins back (AQE broadcasts it
    while small — no forced hint, since a web-scale vocabulary outgrows
    executor memory), one per-doc rollup, one per-source rollup.
    Per-doc means round to 6 decimals before thresholding so the flag is
    engine-precision-independent."""
    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = terms.groupBy("term").agg(F.count("*").alias("tc"))
    # corpus token total folds out of the vocab aggregate — no third
    # corpus scan. The vocab join carries NO broadcast hint: a web-scale
    # vocabulary outgrows executor memory (Heaps' law), and AQE still
    # broadcasts it while it is small
    tot = vocab.agg(F.sum("tc").alias("n_tok_corpus"))
    per_doc = (
        terms.join(vocab, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.avg(F.log(F.col("tc") / F.col("n_tok_corpus"))), 6
            ).alias("alp")
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("alp") < UNIGRAM_LP_MIN).cast("long")).alias("n_low"),
        F.round(F.avg("alp"), 4).alias("avg_logprob"),
    )


_ORACLE_UNIGRAM = f"""
WITH t AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
           FROM documents),
vocab AS (SELECT term, count(*) AS tc FROM t GROUP BY 1),
tot AS (SELECT sum(tc) AS n FROM vocab),
per_doc AS (
  SELECT doc_id, source, round(avg(ln(tc / CAST(n AS DOUBLE))), 6) AS alp
  FROM t JOIN vocab USING (term) CROSS JOIN tot
  GROUP BY 1, 2
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN alp < {UNIGRAM_LP_MIN} THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       round(avg(alp), 4) AS avg_logprob
FROM per_doc GROUP BY source
"""


EXTRA_QUERIES = {
    "pii_scrub_stats": q_pii_scrub_stats,
    "tfidf_top_terms": q_tfidf_top_terms,
    "repetition_filter": q_repetition_filter,
    "decontam_hits": q_decontam_hits,
    "unigram_logprob": q_unigram_logprob,
}

EXTRA_ORACLES = {
    "pii_scrub_stats": _ORACLE_PII,
    "tfidf_top_terms": _ORACLE_TFIDF,
    "repetition_filter": _ORACLE_REPETITION,
    "decontam_hits": _ORACLE_DECONTAM,
    "unigram_logprob": _ORACLE_UNIGRAM,
}


# --- Count-Min sketch token counts -----------------------------------------
CMS_D = 4     # hash rows
CMS_W = 256   # counters per row
CMS_PROBE_K = 10


def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the token stream — the mergeable
    fixed-size frequency summary (Cormode & Muthukrishnan 2005) a
    100 TB pipeline keeps when exact per-token counts are too wide:
    CMS_D×CMS_W counters total, each a SUM, so partial sketches from
    any partitioning merge by addition and the result is stream-order
    independent (unlike Misra-Gries). Estimates are min over the D
    rows and overestimate by construction — the output carries exact
    and estimated counts for the top-K tokens side by side, so the
    sketch's error is MEASURED against ground truth in the same query.
    Hashes are the portable md5-prefix construction shared with
    stratified_sample. Shapes: one tf shuffle for the exact top-K, one
    D×W-cell aggregate for the sketch (map-side partials do almost all
    the work), broadcast joins for the probe."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("tok"))

    def cell(tok_col, d: int):
        return md5_bucket(f"{d}:", tok_col, CMS_W)

    rows = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), cell(F.col("tok"), d).alias("c")
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("s")
    ).select("s.d", "s.c")
    counters = rows.groupBy("d", "c").agg(F.count("*").alias("n"))
    exact = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "tok")
        .limit(CMS_PROBE_K)
    )
    probe = exact.select(
        "tok",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), cell(F.col("tok"), d).alias("c")
                    )
                    for d in range(CMS_D)
                ]
            )
        ).alias("s"),
    ).select("tok", "exact_n", "s.d", "s.c")
    est = (
        probe.join(F.broadcast(counters), ["d", "c"])
        .groupBy("tok", "exact_n")
        .agg(F.min("n").alias("cms_n"))
    )
    return est.select(
        "tok", "exact_n", "cms_n", (F.col("cms_n") - F.col("exact_n")).alias("overestimate")
    )


def _cms_cell_sql(tok_expr: str, d: int) -> str:
    return md5_bucket_sql(f"'{d}:'", tok_expr, CMS_W)


_ORACLE_CMS = f"""
WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
cells AS (
  {" UNION ALL ".join(f"SELECT {d} AS d, {_cms_cell_sql('tok', d)} AS c FROM t" for d in range(CMS_D))}
),
counters AS (SELECT d, c, count(*) AS n FROM cells GROUP BY 1, 2),
exact AS (
  SELECT tok, count(*) AS exact_n FROM t GROUP BY tok
  ORDER BY exact_n DESC, tok LIMIT {CMS_PROBE_K}
),
probe AS (
  {" UNION ALL ".join(f"SELECT tok, exact_n, {d} AS d, {_cms_cell_sql('tok', d)} AS c FROM exact" for d in range(CMS_D))}
)
SELECT p.tok, p.exact_n, min(co.n) AS cms_n,
       min(co.n) - p.exact_n AS overestimate
FROM probe p JOIN counters co USING (d, c)
GROUP BY p.tok, p.exact_n
"""


EXTRA_QUERIES["cms_token_counts"] = q_cms_token_counts
EXTRA_ORACLES["cms_token_counts"] = _ORACLE_CMS


# --- DSIR importance resampling ---------------------------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): score every
# document by how much more likely its hashed n-gram features are under a
# TARGET distribution than under the raw corpus, then resample toward the
# target. The target here is the corpus's own English subset (standing in
# for "high-quality domain" the way doc_id%97 stands in for a benchmark
# in decontamination); features are bigrams hashed into DSIR_B buckets
# with the portable salted-md5 construction shared with the CMS/Bloom
# sketches.
DSIR_B = 1024            # hashed feature buckets
DSIR_TARGET_LANG = "en"  # target-distribution subset


def _dsir_feat(col):
    """Bigram -> feature bucket via the shared salted-md5 construction."""
    return md5_bucket("dsir:", col, DSIR_B)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language DSIR importance summary: average per-token log
    importance weight log(p_target(f)/p_raw(f)) under add-one-smoothed
    hashed-bigram unigram models, plus how many docs score positive
    (more target-like than the corpus average — the resample keep-set).

    Shapes: explode bigrams -> hash -> ONE per-doc feature-count
    aggregation that both downstream branches share (see the
    ReuseExchange note inline); both models are one groupBy over the
    compact count frame (the target model is a conditional sum, not a
    second scan); the DSIR_B-row ratio table joins back broadcast; one
    count-weighted per-doc rollup, one per-lang rollup. Per-doc means
    round to 6 decimals before sign-thresholding so the keep flag is
    engine-precision-independent (same policy as the unigram-LM
    filter)."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", F.split("text", " ").alias("l"))
    bgs = F.expr(
        "transform(sequence(1, size(l)-1), i -> array_join(slice(l, i, 2), ' '))"
    )
    feats = (
        base.filter(F.size("l") >= 2)
        .select("doc_id", "lang", F.explode(bgs).alias("bg"))
        .select("doc_id", "lang", _dsir_feat(F.col("bg")).alias("fb"))
    )
    # per-doc feature COUNTS first: both the model branch and the
    # scoring branch hang off this one aggregation, so its exchange is
    # computed once and reused (ReuseExchange) — the expensive
    # explode+md5 pass over the corpus never runs twice, which the
    # naive feats->model / feats->score fork would do
    docfeat = feats.groupBy("doc_id", "lang", "fb").agg(F.count("*").alias("c"))
    tgt_c = F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("c")).otherwise(
        F.lit(0)
    )
    model = docfeat.groupBy("fb").agg(
        F.sum("c").alias("cr"), F.sum(tgt_c).alias("ct")
    )
    tot = model.agg(
        F.sum("cr").alias("nr"), F.sum("ct").alias("nt")
    )
    ratio = model.crossJoin(F.broadcast(tot)).select(
        "fb",
        (
            F.log((F.col("ct") + 1) / (F.col("nt") + F.lit(DSIR_B)))
            - F.log((F.col("cr") + 1) / (F.col("nr") + F.lit(DSIR_B)))
        ).alias("lr"),
    )
    per_doc = (
        docfeat.join(F.broadcast(ratio), "fb")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.sum(F.col("c") * F.col("lr")) / F.sum("c"), 6
            ).alias("lw")
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("lw"), 4).alias("avg_logweight"),
        F.sum((F.col("lw") > 0).cast("long")).alias("n_positive"),
    )


_ORACLE_DSIR = f"""
WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS l FROM documents),
bg AS (SELECT doc_id, lang,
              unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS b
       FROM toks WHERE len(l) >= 2),
fe AS (SELECT doc_id, lang,
              {md5_bucket_sql("'dsir:'", 'b', DSIR_B)} AS fb
       FROM bg),
docfeat AS (SELECT doc_id, lang, fb, count(*) AS c FROM fe GROUP BY 1, 2, 3),
model AS (SELECT fb, sum(c) AS cr,
                 sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN c ELSE 0 END) AS ct
          FROM docfeat GROUP BY 1),
tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM model),
ratio AS (SELECT fb, ln((ct + 1) / CAST(nt + {DSIR_B} AS DOUBLE))
                   - ln((cr + 1) / CAST(nr + {DSIR_B} AS DOUBLE)) AS lr
          FROM model CROSS JOIN tot),
per_doc AS (SELECT doc_id, lang, round(sum(c * lr) / sum(c), 6) AS lw
            FROM docfeat JOIN ratio USING (fb) GROUP BY 1, 2)
SELECT lang, count(*) AS n_docs, round(avg(lw), 4) AS avg_logweight,
       CAST(sum(CASE WHEN lw > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
FROM per_doc GROUP BY lang
"""


EXTRA_QUERIES["dsir_weights"] = q_dsir_weights
EXTRA_ORACLES["dsir_weights"] = _ORACLE_DSIR


# --- BPE merge induction ----------------------------------------------------
# Tokenizer training as a distributed query: the first BPE_ITERS merges
# of byte-pair encoding (Sennrich et al. 2016) learned over the corpus.
# Each iteration is (1) adjacent-pair counts — explode + groupBy with
# map-side combine, the pair vocabulary is tiny next to the corpus —
# (2) a global top-1 (TakeOrdered, one row, broadcast back), and (3) a
# row-local greedy merge applied with plain string expressions: tokens
# are rendered with PRIVATE surrounding spaces (' '||replace(seq,' ','  ')
# ||' ') so left-to-right non-overlapping replace() implements exactly
# BPE's greedy merge — 'a a a' -> 'aa a', 'a b a b' -> 'ab ab' — with
# byte-identical semantics on both engines. No shuffle touches the
# corpus except the tiny pair-count aggregations; at 100 TB you would
# persist the working frame between iterations (same note as the CC
# loop in dedup.py).
BPE_ITERS = 3


def _bpe_pair_counts(frame: DataFrame) -> DataFrame:
    s = F.split("seq", " ")
    prs = F.expr(
        "transform(sequence(1, size(s)-1), "
        "i -> concat(element_at(s, i), ' ', element_at(s, i+1)))"
    )
    return (
        frame.withColumn("s", s)
        .filter(F.size("s") >= 2)
        .select(F.explode(prs).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").alias("pair_count"))
    )


def _bpe_apply(frame: DataFrame, pair: str) -> DataFrame:
    """Apply one greedy merge row-locally. The pair travels as COLUMN
    literals (F.lit / F.replace), never interpolated into SQL text — a
    learned pair containing a quote or backslash would corrupt an
    F.expr pattern and silently diverge from the oracle."""
    rendered = F.concat(
        F.lit(" "), F.replace(F.col("seq"), F.lit(" "), F.lit("  ")), F.lit(" ")
    )
    pat = F.lit(f" {pair.replace(' ', '  ')} ")
    rep = F.lit(f" {pair.replace(' ', '')} ")
    merged = F.replace(F.replace(rendered, pat, rep), F.lit("  "), F.lit(" "))
    return frame.select(F.trim(merged).alias("seq"), "wc")


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE_ITERS byte-pair merges learned from the corpus
    (step, pair, merged token, pair count at selection time). Ties
    break lexicographically so the learned vocabulary is deterministic
    under any partitioning.

    Like Sennrich's reference implementation, the iterations run on the
    WORD FREQUENCY table, not word instances: one corpus groupBy builds
    (word-as-char-seq, count), and every merge iteration then touches
    only the vocabulary — orders of magnitude smaller than the corpus
    and shrinking relative to it as the corpus grows. Like the
    connected-components loop in dedup.py, each iteration collects
    exactly ONE scalar row (the argmax pair) and feeds it back as a
    literal — the sanctioned single-row-collect pattern, NOT a
    driver-side data loop."""
    docs = load(spark, sf_dir, "documents")
    frame = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
        .select(F.trim(F.regexp_replace("w", "(.)", "$1 ")).alias("seq"), "wc")
        .persist()
    )
    base = frame
    try:
        rows = []
        for step in range(1, BPE_ITERS + 1):
            top = (
                _bpe_pair_counts(frame)
                .orderBy(F.desc("pair_count"), "pair")
                .limit(1)
                .collect()
            )
            if not top:
                break
            r = top[0]
            rows.append(
                (step, r["pair"], r["pair"].replace(" ", ""), r["pair_count"])
            )
            if step < BPE_ITERS:
                frame = _bpe_apply(frame, r["pair"])
        return spark.createDataFrame(
            rows, "step int, pair string, merged string, pair_count long"
        )
    finally:
        base.unpersist()


def _bpe_sql() -> str:
    parts = [
        """w0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS seq,
              count(*) AS wc
       FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       WHERE len(w) > 0 GROUP BY 1)"""
    ]
    for i in range(1, BPE_ITERS + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"""p{i} AS (SELECT s[i] || ' ' || s[i+1] AS pair, sum(wc) AS c
       FROM (SELECT string_split(seq, ' ') AS s, wc FROM {prev}) t,
            unnest(range(1, len(s))) u(i)
       GROUP BY 1)"""
        )
        parts.append(
            f"""t{i} AS (SELECT pair, replace(pair, ' ', '') AS merged, c
       FROM p{i} ORDER BY c DESC, pair LIMIT 1)"""
        )
        if i < BPE_ITERS:
            parts.append(
                f"""w{i} AS (SELECT trim(replace(replace(
         ' ' || replace(seq, ' ', '  ') || ' ',
         (SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM t{i}),
         (SELECT ' ' || merged || ' ' FROM t{i})), '  ', ' ')) AS seq, wc
       FROM {prev})"""
            )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS step, pair, merged, CAST(c AS BIGINT) AS pair_count FROM t{i}"
        for i in range(1, BPE_ITERS + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + selects


EXTRA_QUERIES["bpe_merges"] = q_bpe_merges
EXTRA_ORACLES["bpe_merges"] = _bpe_sql()


# --- PMI co-occurrence ------------------------------------------------------
# Word-association mining (the collocation/word2vec-era statistic): for
# token pairs co-occurring within a +-PMI_WINDOW skipgram window,
# pointwise mutual information pmi = ln( (c_ab/N_pairs) /
# ((c_a/N_tok) * (c_b/N_tok)) ). Pair generation is ROW-LOCAL (a
# higher-order-function expansion over each doc's token array — never a
# position self-join, which would shuffle the exploded corpus on
# doc_id); the three aggregates are groupBys with map-side combine, and
# the unigram model joins back without a forced broadcast hint (AQE
# broadcasts it while small; a web-scale vocabulary would not fit).
PMI_WINDOW = 2      # skipgram half-window, in tokens
PMI_MIN_COUNT = 5   # pair support floor
PMI_TOP = 20        # reported pairs


def q_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-PMI_TOP token pairs by PMI (support >= PMI_MIN_COUNT):
    (wa, wb, pair_count, pmi). Pairs are direction-normalized
    (wa <= wb); PMI rounds to 6 so both engines rank identically."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select(F.split("text", " ").alias("l"))
    pair_arr = F.expr(
        f"""flatten(transform(sequence(1, size(l)),
              i -> transform(sequence(1, {PMI_WINDOW}),
                d -> IF(i + d <= size(l),
                        struct(least(element_at(l, i), element_at(l, i + d)) AS wa,
                               greatest(element_at(l, i), element_at(l, i + d)) AS wb),
                        NULL))))"""
    )
    pairs = base.select(F.explode(pair_arr).alias("p")).filter(
        F.col("p").isNotNull()
    ).select("p.wa", "p.wb")
    uni = base.select(F.explode("l").alias("w")).groupBy("w").agg(
        F.count("*").alias("cw")
    )
    n_tok = uni.agg(F.sum("cw").alias("n_tok"))
    pc = pairs.groupBy("wa", "wb").agg(F.count("*").alias("pair_count"))
    n_pairs = pc.agg(F.sum("pair_count").alias("n_pairs"))
    ua = uni.select(F.col("w").alias("wa"), F.col("cw").alias("ca"))
    ub = uni.select(F.col("w").alias("wb"), F.col("cw").alias("cb"))
    scored = (
        pc.filter(F.col("pair_count") >= PMI_MIN_COUNT)
        .join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_pairs))
        .select(
            "wa",
            "wb",
            "pair_count",
            F.round(
                F.log(
                    (F.col("pair_count") / F.col("n_pairs"))
                    / ((F.col("ca") / F.col("n_tok")) * (F.col("cb") / F.col("n_tok")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "wa", "wb").limit(PMI_TOP)


_ORACLE_PMI = f"""
WITH toks AS (SELECT string_split(text, ' ') AS l FROM documents),
pairs AS (
  SELECT least(l[i], l[i + d]) AS wa, greatest(l[i], l[i + d]) AS wb
  FROM toks, unnest(range(1, len(l) + 1)) t(i), unnest(range(1, {PMI_WINDOW + 1})) u(d)
  WHERE i + d <= len(l)
),
uni AS (SELECT unnest(l) AS w FROM toks),
cw AS (SELECT w, count(*) AS cw FROM uni GROUP BY 1),
nt AS (SELECT sum(cw) AS n_tok FROM cw),
pc AS (SELECT wa, wb, count(*) AS pair_count FROM pairs GROUP BY 1, 2),
np AS (SELECT sum(pair_count) AS n_pairs FROM pc)
SELECT wa, wb, pair_count,
       round(ln((pair_count / CAST(n_pairs AS DOUBLE))
                / ((ca.cw / CAST(n_tok AS DOUBLE)) * (cb.cw / CAST(n_tok AS DOUBLE)))), 6) AS pmi
FROM pc
JOIN cw ca ON ca.w = pc.wa
JOIN cw cb ON cb.w = pc.wb
CROSS JOIN nt CROSS JOIN np
WHERE pair_count >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, wa, wb
LIMIT {PMI_TOP}
"""


EXTRA_QUERIES["pmi_cooccurrence"] = q_pmi_cooccurrence
EXTRA_ORACLES["pmi_cooccurrence"] = _ORACLE_PMI


# --- document chunking ------------------------------------------------------
# RAG / context-window prep: split each document into fixed-size token
# windows with overlap, each chunk carrying a stable content hash (the
# retrieval index key). Pure row-local expansion — sequence + slice
# higher-order functions, no shuffle until the (tiny) per-chunk
# projection is consumed downstream.
CHUNK_TOKENS = 32   # window size
CHUNK_STRIDE = 24   # step (CHUNK_TOKENS - CHUNK_STRIDE tokens overlap)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks: (doc_id, chunk_idx, n_tokens,
    chunk_hash). The final (short) chunk is kept iff it adds tokens
    beyond the previous window; every chunk start is 1 + k*stride, so
    chunk boundaries are reproducible for incremental re-indexing."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.split("text", " ").alias("l"))
    chunks = F.expr(
        f"""transform(
              sequence(0, greatest(CAST(ceil((size(l) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INT), 0)),
              k -> struct(
                k AS chunk_idx,
                size(slice(l, 1 + k * {CHUNK_STRIDE}, {CHUNK_TOKENS})) AS n_tokens,
                md5(array_join(slice(l, 1 + k * {CHUNK_STRIDE}, {CHUNK_TOKENS}), ' ')) AS chunk_hash))"""
    )
    return (
        base.select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
            F.col("c.n_tokens").cast("long").alias("n_tokens"),
            F.col("c.chunk_hash").alias("chunk_hash"),
        )
        .filter(F.col("n_tokens") > 0)
    )


_ORACLE_CHUNKS = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
ks AS (
  SELECT doc_id, l,
         unnest(range(0, greatest(CAST(ceil((len(l) - {CHUNK_TOKENS}) / {CHUNK_STRIDE}.0) AS INT), 0) + 1)) AS k
  FROM toks
)
SELECT doc_id, k AS chunk_idx,
       CAST(len(l[1 + k * {CHUNK_STRIDE} : k * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) AS BIGINT) AS n_tokens,
       md5(array_to_string(l[1 + k * {CHUNK_STRIDE} : k * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')) AS chunk_hash
FROM ks
WHERE len(l[1 + k * {CHUNK_STRIDE} : k * {CHUNK_STRIDE} + {CHUNK_TOKENS}]) > 0
"""


EXTRA_QUERIES["doc_chunks"] = q_doc_chunks
EXTRA_ORACLES["doc_chunks"] = _ORACLE_CHUNKS


# --- quality-signal correlation panel ----------------------------------------
# Curation sanity check: before gating a corpus on several quality
# signals, measure how redundant they are. Pearson r comes from ONE
# map-side-combined moment aggregation (count/sum/co-moments merge
# associatively), so the exchange carries a fixed-width summary no
# matter the corpus size — the flattest shape an operator can have at
# 100 TB. Correlation is scale-invariant (population vs sample factors
# cancel), so Spark's corr and DuckDB's corr agree up to summation-
# order ulps, absorbed by rounding.
_CORR_SIGNALS = ("chars", "tokens", "uniq_tokens", "stop_hits")
CORR_UNDEFINED = -2.0  # zero-variance sentinel (Pearson r is in [-1, 1])


def q_quality_signal_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One wide row: pairwise Pearson correlation of four per-document
    quality signals (chars, whitespace tokens, distinct tokens, English
    stopword hits). On this corpus chars/tokens correlate near +1 (they
    gate the same thing — keep one), while distinct-token and stopword
    rates carry partially independent signal; that redundancy matrix is
    the decision input for which filters to actually run over 100 TB."""
    docs = load(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    sig = docs.select(
        F.length("text").cast("double").alias("chars"),
        F.size(tokens).cast("double").alias("tokens"),
        F.size(F.array_distinct(tokens)).cast("double").alias("uniq_tokens"),
        F.size(F.filter(tokens, lambda t: t.isin(*_STOP["en"]))).cast("double").alias("stop_hits"),
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for i, a in enumerate(_CORR_SIGNALS):
        for b in _CORR_SIGNALS[i + 1:]:
            # Pearson r as try_divide of co-moments, NOT F.corr: under
            # ANSI mode (the Spark 4 default) corr THROWS DIVIDE_BY_ZERO
            # on a zero-variance signal; try_divide yields NULL there,
            # mapped to the CORR_UNDEFINED sentinel on both engines
            # (outside [-1, 1]; NULL doubles would surface as NaN via
            # the driver's pandas fetch). The ratio is identical to corr
            # up to summation-order ulps — absorbed by the rounding.
            c = F.round(
                F.try_divide(
                    F.covar_samp(a, b), F.stddev_samp(a) * F.stddev_samp(b)
                ),
                5,
            )
            aggs.append(
                F.coalesce(c, F.lit(CORR_UNDEFINED)).alias(f"corr_{a}_{b}")
            )
    return sig.agg(*aggs)


def _corr_sql() -> str:
    pairs = ",\n       ".join(
        f"coalesce(CASE WHEN isnan(corr({a}, {b})) THEN NULL"
        f" ELSE round(corr({a}, {b}), 5) END, {CORR_UNDEFINED}) AS corr_{a}_{b}"
        for i, a in enumerate(_CORR_SIGNALS)
        for b in _CORR_SIGNALS[i + 1:]
    )
    return f"""
WITH sig AS (
  SELECT CAST(length(text) AS DOUBLE) AS chars,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS uniq_tokens,
         CAST(len(list_filter(string_split(text, ' '), t -> t IN {_EN_STOP_SQL})) AS DOUBLE) AS stop_hits
  FROM documents
)
SELECT count(*) AS n_docs,
       {pairs}
FROM sig
"""


EXTRA_QUERIES["quality_signal_corr"] = q_quality_signal_corr
EXTRA_ORACLES["quality_signal_corr"] = _corr_sql()


# --- priority sampling (weighted sample without replacement) -----------------
# Duffield-Lund-Thorup priority sampling (JACM 2007): each item draws
# priority q = w / u with u uniform in (0, 1]; keep the k largest
# priorities; with tau = the (k+1)-th priority, w_hat = max(w, tau) is
# an unbiased estimator of each kept item's weight and sum(w_hat)
# estimates total weight. The u here is hash-derived (52-bit salted
# md5, the md5_bucket construction), so the sample is deterministic and
# reproducible under retries — the property a curation pipeline needs
# when a 100 TB sampling job restarts. q is two IEEE-754 correctly-
# rounded ops on integer inputs (w * 2^52, then / (h+1)), so BOTH
# engines compute bit-identical priorities — no transcendentals, no
# rounding epsilon in the selection itself.
PS_K = 64
_PS_2_52 = float(1 << 52)


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample of PS_K documents by n_chars, plus the measured
    estimator quality: each row carries (doc_id, w, w_hat) and the
    constant columns est_total (sum of w_hat over the sample),
    true_total (exact corpus weight) and rel_err. Selection is a
    distributed TakeOrdered (per-partition top-(k+1), then merge) —
    the corpus is never globally sorted; everything after the scan is
    (k+1) rows."""
    docs = load(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars"), F.lit(1))
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("ps:"), F.col("doc_id").cast("string"))), 1, 13),
            16,
            10,
        ).cast("long")
    )
    q = (w.cast("double") * F.lit(_PS_2_52)) / (h.cast("double") + F.lit(1.0))
    scored = docs.select("doc_id", w.alias("w"), q.alias("q"))
    # ONE distributed TakeOrdered (per-partition top-(k+1), then merge)
    # materialized driver-side: (k+1) rows, the same bounded-collect
    # shape as packing's bucket offsets. Without this, every downstream
    # reference (tau, sample, estimator) would recompute the subtree —
    # three corpus scans instead of one.
    top = scored.orderBy(F.desc("q"), "doc_id").limit(PS_K + 1).collect()
    tau = float(top[PS_K]["q"]) if len(top) > PS_K else 0.0
    samp = spark.createDataFrame(
        [(r["doc_id"], int(r["w"])) for r in top[:PS_K]], "doc_id long, w long"
    )
    # second corpus scan: the exact total the estimator is judged
    # against (one map-side-combined sum)
    tot = docs.select(F.sum(w).cast("long").alias("true_total"))
    samp = samp.select(
        "doc_id",
        "w",
        F.round(F.greatest(F.col("w").cast("double"), F.lit(tau)), 4).alias("w_hat"),
    )
    est = samp.agg(F.round(F.sum("w_hat"), 4).alias("est_total"))
    return (
        samp.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "w",
            "w_hat",
            "est_total",
            "true_total",
            F.round(F.col("est_total") / F.col("true_total") - 1.0, 6).alias("rel_err"),
        )
    )


_ORACLE_PRIORITY_SAMPLE = f"""
WITH w AS (
  SELECT doc_id, greatest(n_chars, 1) AS w,
         CAST(concat('0x', substring(md5(concat('ps:', CAST(doc_id AS VARCHAR))), 1, 13)) AS BIGINT) AS h
  FROM documents
),
q AS (SELECT doc_id, w, (CAST(w AS DOUBLE) * {_PS_2_52!r}) / (CAST(h AS DOUBLE) + 1.0) AS q FROM w),
ranked AS (SELECT doc_id, w, q, row_number() OVER (ORDER BY q DESC, doc_id) AS rn FROM q),
tau AS (SELECT coalesce((SELECT q FROM ranked WHERE rn = {PS_K} + 1), 0.0) AS tau),
samp AS (
  SELECT doc_id, CAST(w AS BIGINT) AS w,
         round(greatest(CAST(w AS DOUBLE), tau), 4) AS w_hat
  FROM ranked, tau WHERE rn <= {PS_K}
),
est AS (SELECT round(sum(w_hat), 4) AS est_total FROM samp),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS true_total FROM w)
SELECT doc_id, w, w_hat, est_total, true_total,
       round(est_total / true_total - 1.0, 6) AS rel_err
FROM samp, est, tot
"""


EXTRA_QUERIES["priority_sample"] = q_priority_sample
EXTRA_ORACLES["priority_sample"] = _ORACLE_PRIORITY_SAMPLE


# --- frequent n-grams (distributed heavy hitters) --------------------------
# Boilerplate/meme mining: the most frequent trigrams in the corpus,
# found WITHOUT a full groupBy over the n-gram key space (10^12 docs ->
# more distinct n-grams than any shuffle wants to carry). Two phases,
# the classic candidates-then-recount layout:
#   1. candidate generation, bounded memory: per Arrow batch, exact
#      value_counts (the batch is bounded, so this IS bounded memory)
#      keeping items with batch count > batch_len/FH_CAP — the
#      Misra-Gries/SpaceSaving survival guarantee in vectorized batch
#      form: if an item's global count exceeds N/FH_CAP, an averaging
#      argument puts it over the local threshold in at least one batch,
#      so the TRUE heavy hitters always survive, under any partitioning.
#   2. exact recount of candidates only (broadcast semi-join — the
#      candidate set is threshold-pruned, not corpus-sized), then the
#      report keeps exactly the rows with exact count > N/FH_CAP: a set
#      the guarantee makes PARTITION-INVARIANT even though the candidate
#      set itself is not. Deterministic top-FH_TOPK by (count desc, s).
# At 100 TB the shingle projection feeding the three row-local passes
# (total, candidates, recount) would be persisted or fused; candidates
# from very wide fleets can be re-pruned hierarchically before the
# broadcast. Oracle: the full GROUP BY the phase structure avoids.
FH_NGRAM = 3
FH_CAP = 4096    # survival threshold denominator (sketch "capacity")
FH_TOPK = 20


def _fh_shingles(docs: DataFrame) -> DataFrame:
    base = docs.select(F.split("text", " ").alias("l")).filter(
        F.size("l") >= FH_NGRAM
    )
    return base.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, size(l)-{FH_NGRAM - 1}), "
                f"i -> array_join(slice(l, i, {FH_NGRAM}), ' '))"
            )
        ).alias("s")
    )


def q_frequent_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top trigrams with exact counts above the N/FH_CAP heavy-hitter
    threshold, via bounded-memory candidate generation + exact recount
    (see block comment). Output: (s, freq, total_ngrams)."""
    import pandas as _pd

    docs = load(spark, sf_dir, "documents")
    sh = _fh_shingles(docs)

    def _candidates(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vc = pdf["s"].value_counts()
            yield _pd.DataFrame(
                {"s": vc[vc > len(pdf) / FH_CAP].index.to_numpy()}
            )

    cand = sh.mapInPandas(_candidates, "s string").distinct()
    # total n-grams without exploding: one row-local size sum
    total = (
        docs.select(F.split("text", " ").alias("l"))
        .filter(F.size("l") >= FH_NGRAM)
        .agg(F.sum(F.size("l") - (FH_NGRAM - 1)).alias("n"))
    )
    # NO broadcast hint on cand: the per-batch threshold (len(batch)/
    # FH_CAP ≈ 2-3 at default Arrow batch sizes) only guarantees the
    # candidate set is batch-bounded, not corpus-bounded — on a diverse
    # corpus distinct candidates can approach corpus scale, and a forced
    # broadcast would be a driver/executor memory hazard. AQE broadcasts
    # it at runtime when (as in practice) it is actually small.
    counted = sh.join(cand, "s").groupBy("s").agg(
        F.count("*").alias("freq")
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("freq") > F.col("n") / F.lit(float(FH_CAP)))
        .orderBy(F.desc("freq"), "s")
        .limit(FH_TOPK)
        .select("s", "freq", F.col("n").cast("long").alias("total_ngrams"))
    )


_ORACLE_FREQ_NGRAMS = f"""
WITH toks AS (SELECT string_split(text, ' ') AS l FROM documents),
sh AS (
  SELECT unnest(list_transform(range(1, len(l) - {FH_NGRAM - 2}),
                               i -> array_to_string(l[i:i+{FH_NGRAM - 1}], ' '))) AS s
  FROM toks WHERE len(l) >= {FH_NGRAM}
),
tot AS (SELECT count(*) AS n FROM sh),
freq AS (SELECT s, count(*) AS freq FROM sh GROUP BY 1)
SELECT s, freq, CAST(n AS BIGINT) AS total_ngrams
FROM freq, tot
WHERE freq > n / {float(FH_CAP)!r}
ORDER BY freq DESC, s
LIMIT {FH_TOPK}
"""

EXTRA_QUERIES["frequent_ngrams"] = q_frequent_ngrams
EXTRA_ORACLES["frequent_ngrams"] = _ORACLE_FREQ_NGRAMS


# --- full curation pipeline (composite funnel) ------------------------------
# The showcase composition: the stages a pretraining-data pipeline runs
# before tokenization — quality gate → exact dedup → MinHash-band
# near-dup keep-first → benchmark decontamination → per-language mixture
# shares — as ONE DataFrame program with per-stage survivor counts (the
# funnel observability you need to know WHICH stage ate the corpus).
# Every stage reuses the exact expressions of its standalone operator
# (corpus_curation quality score, dedup.py shingle/minhash/banding,
# decontam_hits shingle overlap), so the composite's oracle is the same
# CTE chain. Near-dup policy: a doc is dropped if ANY of its band
# buckets contains a lexicographically-smaller surviving doc (the
# SemDeDup-style keep-first ledger, deterministic without iterating to
# connected components). Stage counts come from per-stage per-language
# aggregates joined at the end (language-cardinality rows); the scored
# projection is localCheckpointed once so the four downstream branches
# never re-derive the corpus scan.
CPIPE_PPM = 1_000_000


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import CHAR_SHINGLE, N_MINHASHES, _lsh_bands

    docs = load(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    n_tokens = F.size(tokens)
    stop_hits = F.size(F.filter(tokens, lambda t: t.isin(*_STOP["en"])))
    mean_word_len = F.length(F.translate(F.col("text"), " ", "")) / n_tokens
    quality = (
        F.least(F.lit(1.0), n_tokens / F.lit(64.0)) * 0.5
        + (stop_hits / n_tokens) * 2.0
        + F.when((mean_word_len >= 3) & (mean_word_len <= 10), 0.3).otherwise(0.0)
    )
    scored = docs.select(
        "doc_id", "lang", "text", n_tokens.alias("toks"), quality.alias("q")
    )
    from pyspark.sql import Window as W

    # stage flags on ONE corpus lineage (a first draft aggregated each
    # stage's survivors separately and Catalyst re-derived the whole
    # chain per branch: 53 exchanges; the flag-chain form audits at a
    # handful). ok_exact = first q-passing doc per content hash, via a
    # running count over the hash partition.
    w_hash = W.partitionBy(F.md5("text")).orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    flagged = scored.withColumn(
        "ok_q", F.col("q") >= CURATION_MIN_QUALITY
    ).withColumn(
        "ok_exact",
        F.col("ok_q")
        & (F.sum(F.when(F.col("q") >= CURATION_MIN_QUALITY, 1).otherwise(0)).over(w_hash) == 1),
    )
    # materialize the scored+flagged projection ONCE (the pagerank
    # localCheckpoint pattern): four branches hang off it — the minhash
    # signature branch, the bench-shingle and contamination scans, and
    # the final flag join — and without the checkpoint Catalyst
    # re-derives the corpus scan + quality expressions + hash window per
    # branch (5 scans ≈ 5× the corpus read at 100 TB). The explicit
    # repartition pins the checkpoint at full parallelism: AQE coalesces
    # the post-window shuffle to ~1 partition at test scale, which would
    # serialize the CPU-heavy shingle/minhash branch onto one task.
    flagged = flagged.repartition(
        spark.sparkContext.defaultParallelism
    ).localCheckpoint(eager=True)
    # near-dup banding over exact-dedup survivors (dedup.py expressions).
    # Only the DROPPED doc_ids travel back — the near-dup loser set is
    # small, so the flag join is a broadcast, never a corpus shuffle.
    shingles = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length(text) - {CHAR_SHINGLE - 1}, 1)), "
            f"i -> substring(text, i, {CHAR_SHINGLE}))"
        )
    )
    sig = (
        flagged.filter("ok_exact")
        .select("doc_id", F.explode_outer(shingles).alias("sh"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.md5(F.concat(F.lit(f"{k}:"), F.col("sh")))).alias(f"m{k}")
                for k in range(N_MINHASHES)
            ]
        )
    )
    stacked = _lsh_bands(sig)
    w_bucket = W.partitionBy("band", "bucket")
    dropped3 = (
        stacked.withColumn("mn", F.min("doc_id").over(w_bucket))
        .filter(F.col("doc_id") != F.col("mn"))
        .select("doc_id")
        .distinct()
        .withColumn("near_dropped", F.lit(True))
    )
    # decontamination (decontam_hits expressions): bench shingles come
    # from the RAW corpus; the contaminated set is computed over ALL
    # non-bench docs (a superset of stage-3 survivors — harmless, the
    # flag AND-chain already excludes earlier losers) so it needs no
    # join against the survivor lineage. Both side tables are small →
    # broadcast.
    tok_sh = F.when(
        F.size(F.split("text", " ")) >= DECON_SHINGLE,
        F.expr(
            f"array_distinct(transform(sequence(1, size(split(text, ' '))-{DECON_SHINGLE - 1}), "
            f"i -> array_join(slice(split(text, ' '), i, {DECON_SHINGLE}), ' ')))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    bench = (
        flagged.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(F.explode(tok_sh).alias("s"))
        .distinct()
    )
    contaminated = (
        flagged.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .select("doc_id", F.explode(tok_sh).alias("s"))
        .join(F.broadcast(bench), "s")
        .select("doc_id")
        .distinct()
        .withColumn("contam", F.lit(True))
    )
    full = (
        flagged.join(F.broadcast(dropped3), "doc_id", "left")
        .join(F.broadcast(contaminated), "doc_id", "left")
        .withColumn(
            "ok_near", F.col("ok_exact") & F.col("near_dropped").isNull()
        )
        .withColumn(
            "ok_final",
            F.col("ok_near")
            & (F.col("doc_id") % DECON_BENCH_MOD != 0)
            & F.col("contam").isNull(),
        )
    )
    out = full.groupBy("lang").agg(
        F.count("*").alias("n_raw"),
        F.sum(F.col("ok_q").cast("long")).alias("n_quality"),
        F.sum(F.col("ok_exact").cast("long")).alias("n_exact_dedup"),
        F.sum(F.col("ok_near").cast("long")).alias("n_near_dedup"),
        F.sum(F.col("ok_final").cast("long")).alias("n_final"),
        F.sum(F.when(F.col("ok_final"), F.col("toks")).otherwise(0))
        .cast("long")
        .alias("tokens_final"),
    )
    # total tokens via an unpartitioned window over the language-
    # cardinality frame (a scalar-subquery crossJoin re-derived the whole
    # funnel lineage a second time)
    w_all = W.partitionBy()
    return out.withColumn(
        "total_tokens", F.sum("tokens_final").over(w_all).cast("long")
    ).select(
        "lang",
        "n_raw",
        "n_quality",
        "n_exact_dedup",
        "n_near_dedup",
        "n_final",
        "tokens_final",
        F.expr(
            f"CAST(tokens_final * {CPIPE_PPM} DIV greatest(total_tokens, 1) AS BIGINT)"
        ).alias("share_ppm"),
    )


def _cpipe_sql() -> str:
    from .dedup import CHAR_SHINGLE, N_MINHASHES

    mins = ",\n         ".join(
        f"min(md5(concat('{k}:', sh))) AS m{k}" for k in range(N_MINHASHES)
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang, text, len(string_split(text, ' ')) AS toks,
         least(1.0, len(string_split(text, ' ')) / 64.0) * 0.5
         + (len(list_filter(string_split(text, ' '), t -> t IN {_EN_STOP_SQL}))
            / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 2.0
         + CASE WHEN length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS DOUBLE) BETWEEN 3 AND 10
                THEN 0.3 ELSE 0.0 END AS q
  FROM documents
),
s1 AS (SELECT * FROM scored WHERE q >= {CURATION_MIN_QUALITY}),
s2 AS (
  SELECT doc_id, lang, text, toks FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM s1)
  WHERE rn = 1
),
shingled AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(length(text) - {CHAR_SHINGLE - 1}, 1) + 1),
           i -> substring(text, i, {CHAR_SHINGLE})))) AS sh
  FROM s2
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM shingled GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(concat(m0, '|', m1)) AS bucket FROM sig
  UNION ALL
  SELECT doc_id, 1 AS band, md5(concat(m2, '|', m3)) AS bucket FROM sig
),
keep3 AS (
  SELECT doc_id FROM (
    SELECT doc_id, max(CASE WHEN doc_id <> mn THEN 1 ELSE 0 END) AS dropped
    FROM (SELECT doc_id, band, bucket, min(doc_id) OVER (PARTITION BY band, bucket) AS mn FROM bands)
    GROUP BY doc_id)
  WHERE dropped = 0
),
s3 AS (SELECT s2.* FROM s2 JOIN keep3 USING (doc_id)),
tsh AS (
  SELECT doc_id, unnest(CASE WHEN len(string_split(text, ' ')) >= {DECON_SHINGLE}
           THEN list_distinct(list_transform(range(1, len(string_split(text, ' ')) - {DECON_SHINGLE - 2}),
                i -> array_to_string(string_split(text, ' ')[i:i+{DECON_SHINGLE - 1}], ' ')))
           ELSE []::VARCHAR[] END) AS s
  FROM documents
),
bench AS (SELECT DISTINCT s FROM tsh WHERE doc_id % {DECON_BENCH_MOD} = 0),
corpus3 AS (SELECT * FROM s3 WHERE doc_id % {DECON_BENCH_MOD} <> 0),
contaminated AS (
  SELECT DISTINCT tsh.doc_id FROM tsh
  JOIN corpus3 USING (doc_id)
  JOIN bench USING (s)
),
s4 AS (SELECT * FROM corpus3 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
a0 AS (SELECT lang, count(*) AS n_raw FROM scored GROUP BY 1),
a1 AS (SELECT lang, count(*) AS n_quality FROM s1 GROUP BY 1),
a2 AS (SELECT lang, count(*) AS n_exact_dedup FROM s2 GROUP BY 1),
a3 AS (SELECT lang, count(*) AS n_near_dedup FROM s3 GROUP BY 1),
a4 AS (SELECT lang, count(*) AS n_final, CAST(sum(toks) AS BIGINT) AS tokens_final FROM s4 GROUP BY 1),
j AS (
  SELECT a0.lang, n_raw,
         coalesce(n_quality, 0) AS n_quality,
         coalesce(n_exact_dedup, 0) AS n_exact_dedup,
         coalesce(n_near_dedup, 0) AS n_near_dedup,
         coalesce(n_final, 0) AS n_final,
         CAST(coalesce(tokens_final, 0) AS BIGINT) AS tokens_final
  FROM a0 LEFT JOIN a1 USING (lang) LEFT JOIN a2 USING (lang)
          LEFT JOIN a3 USING (lang) LEFT JOIN a4 USING (lang)
),
tot AS (SELECT CAST(sum(tokens_final) AS BIGINT) AS total_tokens FROM j)
SELECT lang, n_raw, n_quality, n_exact_dedup, n_near_dedup, n_final, tokens_final,
       CAST(tokens_final * {CPIPE_PPM} // greatest(total_tokens, 1) AS BIGINT) AS share_ppm
FROM j, tot
"""


EXTRA_QUERIES["curation_pipeline"] = q_curation_pipeline
EXTRA_ORACLES["curation_pipeline"] = _cpipe_sql()


# --------------------------------------------------------------------------
# Gopher quality-rule panel (round 5)
# --------------------------------------------------------------------------
# The published document-quality filter set from Rae et al. 2021
# ("Scaling Language Models: ... Gopher", Appendix A1.1), reported as a
# per-rule pass/fail panel — the diagnostic view a curation team reads
# before picking thresholds, rather than a single opaque keep flag.
# Thresholds marked "adapted" are rescaled to this corpus's synthetic
# 10-99-word documents; the rule STRUCTURE is Gopher's.
GOPHER_MIN_WORDS = 20        # Gopher: 50 (adapted to the small docs)
GOPHER_MAX_WORDS = 100_000   # Gopher: 100,000
GOPHER_MEAN_WL = (3.0, 10.0)  # Gopher: mean word length in [3, 10]
GOPHER_ALPHA_FRAC = 0.8      # Gopher: ≥80% words contain an alphabetic char
GOPHER_SYMBOL_RATIO = 0.1    # Gopher: (# of '#' or '…') / words ≤ 0.1
GOPHER_STOPWORDS = ("the", "a")  # Gopher: ≥2 of 8 function words (adapted
#                                  to this corpus's 31-word vocabulary)
GOPHER_UNIQUE_FRAC = 0.5     # repetition family: distinct/total words
_GOPHER_RULES = (
    "word_count", "mean_word_len", "alpha_word_frac",
    "symbol_ratio", "stopword_hits", "unique_word_frac", "all_rules",
)


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus scan → seven (rule, n_pass, n_fail, pass_rate) rows.
    Every rule is a native column expression (whole-stage codegen; no
    Python), the panel is ONE fixed-width global aggregate (map-side
    partial → 7-value final row), and the row pivot is a constant-size
    stack over that single row — at 100 TB this is exactly one scan and
    one all-to-one exchange of 8 numbers."""
    docs = load(spark, sf_dir, "documents")
    tokens = F.split(F.col("text"), " ")
    n_words = F.size(tokens)
    nw = n_words.cast("double")
    mean_wl = F.length(F.translate(F.col("text"), " ", "")) / nw
    alpha_frac = F.size(F.filter(tokens, lambda t: t.rlike("[A-Za-z]"))) / nw
    sym_ratio = F.regexp_count(F.col("text"), F.lit(r"#|\.\.\.")) / nw
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(tokens),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    )
    uniq_frac = F.size(F.array_distinct(tokens)) / nw
    flags = [
        ((n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)),
        ((mean_wl >= GOPHER_MEAN_WL[0]) & (mean_wl <= GOPHER_MEAN_WL[1])),
        (alpha_frac >= GOPHER_ALPHA_FRAC),
        (sym_ratio <= GOPHER_SYMBOL_RATIO),
        (stop_hits >= 2),
        (uniq_frac >= GOPHER_UNIQUE_FRAC),
    ]
    all_rules = flags[0]
    for fl in flags[1:]:
        all_rules = all_rules & fl
    flags.append(all_rules)
    flagged = docs.select(
        *[fl.cast("long").alias(r) for r, fl in zip(_GOPHER_RULES, flags)]
    )
    agg = flagged.groupBy().agg(
        F.count("*").alias("n_docs"),
        *[F.sum(r).alias(r) for r in _GOPHER_RULES],
    )
    stack_args = ", ".join(f"'{r}', {r}" for r in _GOPHER_RULES)
    return agg.selectExpr(
        f"stack({len(_GOPHER_RULES)}, {stack_args}) as (rule, n_pass)",
        "n_docs",
    ).select(
        "rule",
        "n_pass",
        (F.col("n_docs") - F.col("n_pass")).alias("n_fail"),
        F.round(F.col("n_pass") / F.col("n_docs"), 4).alias("pass_rate"),
    )


_gopher_flag_sql = {
    "word_count": (
        f"CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS} "
        "THEN 1 ELSE 0 END"
    ),
    "mean_word_len": (
        f"CASE WHEN mwl BETWEEN {GOPHER_MEAN_WL[0]} AND {GOPHER_MEAN_WL[1]} "
        "THEN 1 ELSE 0 END"
    ),
    "alpha_word_frac": f"CASE WHEN alpha_frac >= {GOPHER_ALPHA_FRAC} THEN 1 ELSE 0 END",
    "symbol_ratio": f"CASE WHEN sym_ratio <= {GOPHER_SYMBOL_RATIO} THEN 1 ELSE 0 END",
    "stopword_hits": "CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END",
    "unique_word_frac": f"CASE WHEN uniq_frac >= {GOPHER_UNIQUE_FRAC} THEN 1 ELSE 0 END",
}
_gopher_flag_sql["all_rules"] = " * ".join(
    f"({v})" for v in _gopher_flag_sql.values()
)
_GOPHER_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"
_ORACLE_GOPHER = f"""
WITH feat AS (
  SELECT len(string_split(text, ' ')) AS n_words,
         length(replace(text, ' ', ''))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mwl,
         len(list_filter(string_split(text, ' '),
                         t -> regexp_matches(t, '[A-Za-z]')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS alpha_frac,
         len(regexp_extract_all(text, '#|\\.\\.\\.'))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS sym_ratio,
         len(list_intersect(list_distinct(string_split(text, ' ')),
                            {_GOPHER_STOP_SQL})) AS stop_hits,
         len(list_distinct(string_split(text, ' ')))
           / CAST(len(string_split(text, ' ')) AS DOUBLE) AS uniq_frac
  FROM documents
),
flags AS (
  SELECT {", ".join(f"{v} AS {r}" for r, v in _gopher_flag_sql.items())}
  FROM feat
),
agg AS (
  SELECT count(*) AS n_docs,
         {", ".join(f"CAST(sum({r}) AS BIGINT) AS {r}" for r in _GOPHER_RULES)}
  FROM flags
)
{" UNION ALL ".join(
    f"SELECT '{r}' AS rule, {r} AS n_pass, n_docs - {r} AS n_fail, "
    f"round({r} / CAST(n_docs AS DOUBLE), 4) AS pass_rate FROM agg"
    for r in _GOPHER_RULES
)}
"""

EXTRA_QUERIES["gopher_quality_rules"] = q_gopher_rules
EXTRA_ORACLES["gopher_quality_rules"] = _ORACLE_GOPHER


# --------------------------------------------------------------------------
# Okapi BM25 retrieval (round 5)
# --------------------------------------------------------------------------
# Robertson & Spärck Jones / Robertson et al. (TREC-3, 1994) Okapi BM25 —
# the lexical-retrieval stage a RAG or decontamination pipeline runs
# before any embedding model: score every document against a fixed query
# term set, return the top-k. Uses the non-negative idf variant
# ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene's formulation).
BM25_QUERY_TERMS = ("spark", "window", "merge", "scan")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) for every document matching >= 1 query term —
    the shared scoring core of q_bm25_retrieval and the RRF fusion's
    lexical arm."""
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    doclen = docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: t != "")).alias("dl"),
    )
    matches = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .filter(F.col("term").isin(*BM25_QUERY_TERMS))
    )
    tf = matches.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = (
        matches.select("doc_id", "term").distinct()
        .groupBy("term").agg(F.count("*").alias("df"))
    )
    glob = doclen.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_part = (
        F.col("tf") * (BM25_K1 + 1.0)
        / (
            F.col("tf")
            + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(glob))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
    )


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval for a fixed query-term set.

    Shape: the term explode is filtered to the |Q| query terms BEFORE
    any aggregation, so the tf shuffle carries only matching (doc, term)
    pairs — a |Q|/|V| sliver of the corpus. df is a |Q|-row aggregate
    (broadcast), N + avgdl one fixed-width global aggregate (broadcast
    scalar), and the final top-k is orderBy+limit, which Spark executes
    as TakeOrdered (per-partition heaps → k rows to the driver), never a
    global sort materialization. One corpus scan for doc lengths, one
    for matching terms; both survive 100 TB unchanged."""
    from pyspark.sql import Window as W

    scored = _bm25_scored(spark, sf_dir)
    ranked = scored.orderBy(F.desc("score"), "doc_id").limit(BM25_TOP_K)
    return ranked.select(
        F.row_number()
        .over(W.orderBy(F.desc("score"), "doc_id"))
        .alias("rank"),
        "doc_id",
        "score",
    )


_BM25_TERMS_SQL = "[" + ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS) + "]"
# shared WITH-body: (doc_id, score) for docs matching >= 1 query term;
# reused verbatim by the RRF fusion oracle so both engines' lexical
# arms are the same program
_BM25_SCORED_CTES = f"""dl AS (
  SELECT doc_id,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS dl
  FROM documents
),
m AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
mq AS (SELECT doc_id, term FROM m WHERE list_contains({_BM25_TERMS_SQL}, term)),
tf AS (SELECT doc_id, term, count(*) AS tf FROM mq GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM mq GROUP BY 1),
g AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
s AS (
  SELECT tf.doc_id,
         round(sum(
           ln(1.0 + (g.n_docs - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({BM25_K1} + 1.0)
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl.dl / g.avgdl))
         ), 6) AS score
  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN g
  GROUP BY tf.doc_id
)"""
_ORACLE_BM25 = f"""
WITH {_BM25_SCORED_CTES}
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank,
       doc_id, score
FROM s ORDER BY score DESC, doc_id LIMIT {BM25_TOP_K}
"""

EXTRA_QUERIES["bm25_retrieval"] = q_bm25_retrieval
EXTRA_ORACLES["bm25_retrieval"] = _ORACLE_BM25


# --------------------------------------------------------------------------
# Winnowing fingerprints (round 5)
# --------------------------------------------------------------------------
# Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting" (SIGMOD 2003) — the MOSS algorithm. Token k-gram hashes,
# sliding window of w hashes, keep the window minimum; the selected set is
# a position-robust fingerprint with the guarantee that any shared token
# run of length >= w + k - 1 between two documents yields at least one
# shared fingerprint. Tie-break: plain min over the window's hash strings
# (leftmost-min variant; deterministic and engine-portable).
WINNOW_K = 3  # tokens per k-gram
WINNOW_W = 4  # hashes per window


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document winnowing fingerprint profile + cross-corpus sharing.

    Output: (doc_id, n_kgrams, n_fingerprints, n_shared) where n_shared
    counts this document's fingerprints that also occur in >= 1 other
    document.

    Shape: k-gram formation, hashing, window-min selection and dedup are
    ALL row-local array expressions (transform/slice/array_min over the
    token array) — zero shuffle, whole-stage codegen, no Python. Only
    the sharing stat shuffles: one explode->groupBy on the fingerprint
    hash (bounded by the selected-fingerprint count, ~2/(w+1) of the
    k-gram count per the winnowing density bound) and one join back.
    Both scale linearly; nothing is corpus-quadratic."""
    docs = load(spark, sf_dir, "documents")
    k, w = WINNOW_K, WINNOW_W
    # grams[i] = md5 of tokens[i..i+k-1]; n_grams = n_tokens - k + 1.
    # CASE guards, not greatest(...,0): Spark's sequence(1, 0) counts
    # DOWN ([1, 0]), it is not empty.
    #
    # Window starts run i = 1..n_grams-w+1; fingerprint = min hash in
    # the window. Documents with 1..w-1 grams contribute one fingerprint
    # (the min of all grams — slice clamps at the array end); the
    # w+k-1 shared-run guarantee only involves full windows either way.
    #
    # The whole selection is ONE expression with the gram array bound
    # through transform-lambda variables (g below). Chained selects
    # would be collapsed by Catalyst into one projection that INLINES
    # the md5-transform at every reference — each of the ~n windows
    # would recompute the full gram array, an O(n^2) md5 blowup
    # (measured 84 s for 500 docs); lambda variables hold materialized
    # values, so grams is hashed exactly once per document.
    grams_expr = (
        f"CASE WHEN size(toks) < {k} THEN cast(array() as array<string>) "
        f"ELSE transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> md5(concat_ws(' ', slice(toks, i, {k})))) END"
    )
    winnow = F.expr(
        f"transform(array({grams_expr}), g -> struct("
        f"size(g) AS n_kgrams, "
        f"CASE WHEN size(g) = 0 THEN cast(array() as array<string>) "
        f"ELSE array_distinct(transform("
        f"sequence(1, greatest(size(g) - {w - 1}, 1)), "
        f"i -> array_min(slice(g, i, {w})))) END AS fps))[0]"
    )
    per_doc = (
        docs.select(
            "doc_id",
            F.filter(F.split(F.col("text"), " "), lambda t: t != "").alias(
                "toks"
            ),
        )
        .select("doc_id", winnow.alias("wn"))
        .select(
            "doc_id",
            F.col("wn.n_kgrams").alias("n_kgrams"),
            F.col("wn.fps").alias("fps"),
        )
    )
    exploded = per_doc.select("doc_id", F.explode("fps").alias("h"))
    # per-doc fps are distinct, so count(*) per hash == #docs containing it
    sharing = exploded.groupBy("h").agg(F.count("*").alias("docs_with"))
    n_shared = (
        exploded.join(sharing, "h")
        .groupBy("doc_id")
        .agg(
            F.sum((F.col("docs_with") > 1).cast("long")).alias("n_shared")
        )
    )
    return (
        per_doc.select("doc_id", "n_kgrams", F.size("fps").alias("n_fingerprints"))
        .join(n_shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_kgrams",
            "n_fingerprints",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        )
    )


_ORACLE_WINNOW = f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(len(toks) - {WINNOW_K - 1}, 0) + 1),
           i -> md5(array_to_string(list_slice(toks, i, i + {WINNOW_K - 1}), ' '))
         ) AS grams
  FROM tok
),
sel AS (
  SELECT doc_id, CAST(len(grams) AS INTEGER) AS n_kgrams,
         list_distinct(list_transform(
           range(1, greatest(len(grams) - {WINNOW_W - 1},
                             least(len(grams), 1)) + 1),
           i -> list_min(list_slice(grams, i, i + {WINNOW_W - 1}))
         )) AS fps
  FROM g
),
ex AS (SELECT doc_id, unnest(fps) AS h FROM sel),
sh AS (SELECT h, count(*) AS docs_with FROM ex GROUP BY 1),
ns AS (
  SELECT ex.doc_id,
         CAST(sum(CASE WHEN sh.docs_with > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared
  FROM ex JOIN sh USING (h) GROUP BY 1
)
SELECT sel.doc_id, sel.n_kgrams,
       CAST(len(sel.fps) AS INTEGER) AS n_fingerprints,
       coalesce(ns.n_shared, 0) AS n_shared
FROM sel LEFT JOIN ns USING (doc_id)
"""

EXTRA_QUERIES["winnowing_fingerprints"] = q_winnowing_fingerprints
EXTRA_ORACLES["winnowing_fingerprints"] = _ORACLE_WINNOW


# --------------------------------------------------------------------------
# Reciprocal-rank-fusion hybrid retrieval (round 5)
# --------------------------------------------------------------------------
# Cormack, Clarke & Buettcher, "Reciprocal Rank Fusion outperforms
# Condorcet and individual Rank Learning Methods" (SIGIR 2009): fuse a
# lexical arm (Okapi BM25 over the fixed query-term set) with a semantic
# arm (exact cosine against a fixed query embedding) by summing
# 1/(K + rank) over the arms' top-N pools — the standard first stage of
# a hybrid RAG retriever. Ranks, not scores, cross the fusion boundary,
# so the two arms' incomparable score scales never need calibration.
RRF_K = 60       # the paper's constant
RRF_POOL = 50    # per-arm candidate pool
RRF_TOP_K = 20


def q_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + embedding-cosine retrieval fused with RRF.

    Output: (rank, doc_id, rrf_score, lex_rank, sem_rank); an arm rank
    of 0 means the doc is outside that arm's pool (0, not NULL: the
    report hasher reads results through pandas, where a nullable int
    column silently becomes float64). The synthetic corpus
    aligns embeddings.vec_id 1:1 with documents.doc_id.

    Shape: each arm is its own bounded top-N (TakeOrdered per-partition
    heaps -> N rows, never a global sort); fusion is a UNION of two
    N-row frames + one tiny groupBy — no outer join, nothing
    corpus-sized after the arms' scans. Cosines are rounded to 9
    decimals before ranking (both engines) so pool membership and rank
    order are engine-libm-independent."""
    from pyspark.sql import Window as W

    from .similarity import QUERY_VEC_ID, _as_double, _norm

    lex_pool = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score"), "doc_id")
        .limit(RRF_POOL)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("score"), "doc_id"))
            .alias("lex_rank"),
        )
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), _norm("v").alias("qn")
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    sem_pool = (
        emb.crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(dot / (_norm("v") * F.col("qn")), 9).alias("cos"),
        )
        .orderBy(F.desc("cos"), "doc_id")
        .limit(RRF_POOL)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.desc("cos"), "doc_id"))
            .alias("sem_rank"),
        )
    )
    contribs = lex_pool.select(
        "doc_id",
        (F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank"))).alias("c"),
        F.col("lex_rank").alias("lr"),
        F.lit(None).cast("int").alias("sr"),
    ).unionByName(
        sem_pool.select(
            "doc_id",
            (F.lit(1.0) / (F.lit(RRF_K) + F.col("sem_rank"))).alias("c"),
            F.lit(None).cast("int").alias("lr"),
            F.col("sem_rank").alias("sr"),
        )
    )
    fused = contribs.groupBy("doc_id").agg(
        F.round(F.sum("c"), 9).alias("rrf_score"),
        F.coalesce(F.max("lr"), F.lit(0)).alias("lex_rank"),
        F.coalesce(F.max("sr"), F.lit(0)).alias("sem_rank"),
    )
    return (
        fused.orderBy(F.desc("rrf_score"), "doc_id")
        .limit(RRF_TOP_K)
        .select(
            F.row_number()
            .over(W.orderBy(F.desc("rrf_score"), "doc_id"))
            .alias("rank"),
            "doc_id",
            "rrf_score",
            "lex_rank",
            "sem_rank",
        )
    )


def _rrf_sql() -> str:
    from .similarity import QUERY_VEC_ID

    return f"""
WITH {_BM25_SCORED_CTES},
lexpool AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER)
           AS lex_rank
  FROM s ORDER BY score DESC, doc_id LIMIT {RRF_POOL}
),
qv AS (
  SELECT embedding AS qv,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
cosd AS (
  SELECT e.vec_id AS doc_id,
         round(list_sum(list_transform(list_zip(e.embedding, qv.qv),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * qv.qn),
           9) AS cos
  FROM embeddings e, qv
),
sempool AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INTEGER)
           AS sem_rank
  FROM cosd ORDER BY cos DESC, doc_id LIMIT {RRF_POOL}
),
contribs AS (
  SELECT doc_id, CAST(1.0 AS DOUBLE) / ({RRF_K} + lex_rank) AS c,
         lex_rank AS lr, CAST(NULL AS INTEGER) AS sr
  FROM lexpool
  UNION ALL
  SELECT doc_id, CAST(1.0 AS DOUBLE) / ({RRF_K} + sem_rank) AS c,
         CAST(NULL AS INTEGER) AS lr, sem_rank AS sr
  FROM sempool
),
fused AS (
  SELECT doc_id, round(sum(c), 9) AS rrf_score,
         coalesce(max(lr), 0) AS lex_rank, coalesce(max(sr), 0) AS sem_rank
  FROM contribs GROUP BY doc_id
)
SELECT CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INTEGER)
         AS rank,
       doc_id, rrf_score, lex_rank, sem_rank
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {RRF_TOP_K}
"""


EXTRA_QUERIES["rrf_hybrid_retrieval"] = q_rrf_hybrid_retrieval
EXTRA_ORACLES["rrf_hybrid_retrieval"] = _rrf_sql()


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov source-drift panel (round 5)
# --------------------------------------------------------------------------
# The exact-distribution sibling of psi_drift's bucketed panel: for each
# source, the two-sample KS statistic D = max_x |F_src(x) - F_rest(x)|
# over the doc-length (n_chars) distribution, against the asymptotic
# critical value c(alpha) * sqrt((n+m)/(n*m)) (Smirnov 1948;
# c(0.05) = 1.358). PSI answers "how much did the histogram move";
# KS answers "is this source's distribution different at all" with a
# significance threshold and no bucketing choice.
KS_C_ALPHA = 1.358  # c(0.05)


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source two-sample KS test of n_chars vs the rest of the corpus.

    Output: (source, n_docs, ks_stat, critical_value, drifted).

    Shape: ONE corpus aggregation to (source, value) counts; everything
    after is statistics-sized — the ECDF windows run over the
    sources × distinct-values grid (bounded by the value domain, here
    doc lengths; an unbounded-domain variable would be bucketed first),
    never over the corpus. F_rest is derived from the global ECDF as
    (N·F_all − n_s·F_s)/(N − n_s), so no per-source anti-join or second
    corpus pass exists."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    sv = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count("*").alias("c")
    )
    vals = sv.groupBy("v").agg(F.sum("c").alias("cv"))
    glob = vals.select(
        "v",
        F.sum("cv").over(W.orderBy("v")).alias("cum_all"),
        F.sum("cv").over(W.partitionBy()).alias("n_all"),
    )
    sources = sv.groupBy("source").agg(F.sum("c").alias("n_s"))
    grid = sources.crossJoin(vals.select("v"))
    per_src = (
        grid.join(sv, ["source", "v"], "left")
        .fillna(0, subset=["c"])
        .select(
            "source",
            "n_s",
            "v",
            F.sum("c")
            .over(W.partitionBy("source").orderBy("v"))
            .alias("cum_s"),
        )
    )
    d = (
        per_src.join(glob, "v")
        .select(
            "source",
            "n_s",
            "n_all",
            (
                F.abs(
                    F.col("cum_s") / F.col("n_s")
                    - (F.col("cum_all") - F.col("cum_s"))
                    / (F.col("n_all") - F.col("n_s"))
                )
            ).alias("diff"),
        )
        .groupBy("source", "n_s", "n_all")
        .agg(F.round(F.max("diff"), 6).alias("ks_stat"))
    )
    cv = F.round(
        KS_C_ALPHA
        * F.sqrt(
            F.col("n_all").cast("double")
            / (F.col("n_s") * (F.col("n_all") - F.col("n_s")))
        ),
        6,
    )
    return d.select(
        "source",
        F.col("n_s").alias("n_docs"),
        "ks_stat",
        cv.alias("critical_value"),
        (F.col("ks_stat") > cv).cast("int").alias("drifted"),
    )


_ORACLE_KS = f"""
WITH sv AS (
  SELECT source, n_chars AS v, count(*) AS c
  FROM documents GROUP BY 1, 2
),
vals AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM sv GROUP BY 1),
gall AS (
  SELECT v, sum(cv) OVER (ORDER BY v) AS cum_all,
         sum(cv) OVER () AS n_all
  FROM vals
),
sources AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM sv GROUP BY 1),
grid AS (SELECT source, n_s, v FROM sources CROSS JOIN (SELECT v FROM vals)),
per_src AS (
  SELECT grid.source, grid.n_s, grid.v,
         sum(coalesce(sv.c, 0))
           OVER (PARTITION BY grid.source ORDER BY grid.v) AS cum_s
  FROM grid LEFT JOIN sv ON grid.source = sv.source AND grid.v = sv.v
),
d AS (
  SELECT source, n_s, n_all,
         round(max(abs(
           cum_s / CAST(n_s AS DOUBLE)
           - (cum_all - cum_s) / CAST(n_all - n_s AS DOUBLE)
         )), 6) AS ks_stat
  FROM per_src JOIN gall USING (v)
  GROUP BY 1, 2, 3
)
SELECT source, n_s AS n_docs, ks_stat,
       round({KS_C_ALPHA} * sqrt(CAST(n_all AS DOUBLE)
             / (n_s * (n_all - n_s))), 6) AS critical_value,
       CAST(ks_stat > round({KS_C_ALPHA} * sqrt(CAST(n_all AS DOUBLE)
             / (n_s * (n_all - n_s))), 6) AS INTEGER) AS drifted
FROM d
"""

EXTRA_QUERIES["ks_drift"] = q_ks_drift
EXTRA_ORACLES["ks_drift"] = _ORACLE_KS


# --------------------------------------------------------------------------
# CCNet perplexity buckets (round 5)
# --------------------------------------------------------------------------
# CCNet (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
# Datasets from Web Crawl Data") splits each language's documents into
# head / middle / tail THIRDS by LM perplexity and trains on the head.
# The reference service has no corpus-curation surface (it is per-image
# OCR, services/gateway/src/services/images.ts); this operator is part
# of the training-data catalog built on top of the extraction engine.
# The LM is the corpus's own unigram model (the same construction as
# q_unigram_logprob — an external KenLM is not available offline).
_CCNET_BUCKETS = ("head", "middle", "tail")


def q_ccnet_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail perplexity thirds, CCNet-style.

    Output: (lang, bucket, n_docs, avg_logprob, avg_ppl).

    Shapes: ONE tf shuffle builds the unigram model; the model joins
    back with no forced broadcast hint (AQE broadcasts it while small, a
    web-scale vocabulary would not fit); one per-doc rollup produces the
    score frame. Bucketing is ntile(3) over a per-lang window ordered by
    (rounded score, doc_id) — rank-based, so engine float noise cannot
    move a document across a bucket boundary (ties broken by doc_id).
    Scale note: the per-lang window sorts each language's score rows in
    one partition chain; at trillion-doc scale swap the exact ntile for
    broadcast cutpoints from the quantile sketch (q_quantile_sketch) at
    the cost of approximate thirds — the panel schema is unchanged."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    )
    vocab = terms.groupBy("term").agg(F.count("*").alias("tc"))
    tot = vocab.agg(F.sum("tc").alias("n_tok_corpus"))
    per_doc = (
        terms.join(vocab, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.avg(F.log(F.col("tc") / F.col("n_tok_corpus"))), 6
            ).alias("alp")
        )
    )
    # higher mean logprob = lower perplexity = better (head)
    tile = F.ntile(3).over(
        W.partitionBy("lang").orderBy(F.col("alp").desc(), F.col("doc_id"))
    )
    bucket = F.element_at(
        F.array(*[F.lit(b) for b in _CCNET_BUCKETS]), tile
    )
    return (
        per_doc.select("lang", "alp", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("alp"), 4).alias("avg_logprob"),
            F.round(F.avg(F.exp(-F.col("alp"))), 4).alias("avg_ppl"),
        )
    )


_ORACLE_CCNET = """
WITH t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
           FROM documents),
vocab AS (SELECT term, count(*) AS tc FROM t GROUP BY 1),
tot AS (SELECT sum(tc) AS n FROM vocab),
per_doc AS (
  SELECT doc_id, lang, round(avg(ln(tc / CAST(n AS DOUBLE))), 6) AS alp
  FROM t JOIN vocab USING (term) CROSS JOIN tot
  GROUP BY 1, 2
),
tiled AS (
  SELECT lang, alp,
         ['head', 'middle', 'tail'][
           ntile(3) OVER (PARTITION BY lang ORDER BY alp DESC, doc_id)
         ] AS bucket
  FROM per_doc
)
SELECT lang, bucket, count(*) AS n_docs,
       round(avg(alp), 4) AS avg_logprob,
       round(avg(exp(-alp)), 4) AS avg_ppl
FROM tiled GROUP BY 1, 2
"""

EXTRA_QUERIES["ccnet_ppl_buckets"] = q_ccnet_ppl_buckets
EXTRA_ORACLES["ccnet_ppl_buckets"] = _ORACLE_CCNET


# --------------------------------------------------------------------------
# Per-domain frequency cap (round 5)
# --------------------------------------------------------------------------
# RefinedWeb / Dolma-style domain balancing: no single source may
# contribute more than DOMAIN_CAP docs, survivors chosen by a
# deterministic hash priority (so the sample is reproducible and
# order-independent). The cap runs as a SKEW-PROOF two-stage top-k: a
# per-(source, salt-bucket) window prunes each bucket to the cap, then
# the global per-source window ranks the <= SALT*cap survivors. A
# mega-domain therefore never assembles as one window partition — stage
# 1 bounds every partition chain at corpus/|sources|/SALT rows and its
# output at SALT*cap rows per source, no matter how skewed the domain
# distribution is.
DOMAIN_CAP = 20
_DOMAIN_CAP_SALT = 8


def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap each source at DOMAIN_CAP docs by hash priority.

    Output: (source, n_docs, n_kept, min_pri, max_pri) — the priority
    extremes of the kept set pin the exact survivor membership (not just
    its size) under the value hash."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    pri = docs.select(
        "source", F.md5(F.col("doc_id").cast("string")).alias("pri")
    )
    salt = md5_bucket("dcap:", F.col("pri"), _DOMAIN_CAP_SALT)
    stage1 = (
        pri.withColumn("salt", salt)
        .withColumn(
            "r1",
            F.row_number().over(
                W.partitionBy("source", "salt").orderBy("pri")
            ),
        )
        .filter(F.col("r1") <= DOMAIN_CAP)
    )
    stage2 = stage1.withColumn(
        "r2", F.row_number().over(W.partitionBy("source").orderBy("pri"))
    )
    kept = F.col("r2") <= DOMAIN_CAP
    totals = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    capped = stage2.filter(kept).groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("pri").alias("min_pri"),
        F.max("pri").alias("max_pri"),
    )
    return totals.join(capped, "source").select(
        "source", "n_docs", "n_kept", "min_pri", "max_pri"
    )


# the oracle needs no salt stage: a single row_number per source picks
# the same survivor set the two-stage plan does (stage 1 only discards
# rows that can never be in the global top-cap of their source)
_ORACLE_DOMAIN_CAP = f"""
WITH pri AS (SELECT source, md5(CAST(doc_id AS VARCHAR)) AS pri FROM documents),
ranked AS (
  SELECT source, pri,
         row_number() OVER (PARTITION BY source ORDER BY pri) AS r
  FROM pri
),
totals AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
SELECT source, n_docs, count(*) AS n_kept,
       min(pri) AS min_pri, max(pri) AS max_pri
FROM ranked JOIN totals USING (source)
WHERE r <= {DOMAIN_CAP}
GROUP BY source, n_docs
"""

EXTRA_QUERIES["domain_cap_sample"] = q_domain_cap_sample
EXTRA_ORACLES["domain_cap_sample"] = _ORACLE_DOMAIN_CAP


# --------------------------------------------------------------------------
# Token entropy + Zipf panel (round 5)
# --------------------------------------------------------------------------
# Two information-theoretic corpus-health signals per source: Shannon
# entropy of the token distribution (low entropy = TEMPLATE/boilerplate
# content; the signal behind "perplexity of a uniform model") and the
# Zipf log-log slope fit over the top-ZIPF_TOP ranks (natural language
# sits near -1; generated/spam corpora flatten or steepen — Piantadosi
# 2014 reviews the regularity). One corpus tf shuffle; every window and
# regression after it runs over sources x top-ranks, statistics-sized.
ZIPF_TOP = 20
ENT_ROUND = 6


def q_token_entropy_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source panel: (source, n_tokens, n_types, entropy,
    norm_entropy, top_share, zipf_slope).

    entropy = -sum p ln p over the source's token distribution;
    norm_entropy = entropy / ln(n_types) (1.0 = uniform);
    top_share = most frequent token's mass; zipf_slope = OLS slope of
    ln(count) on ln(rank) over the top-ZIPF_TOP tokens (ties broken by
    term so both engines rank identically)."""
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("c"))
    )
    totals = tf.groupBy("source").agg(
        F.sum("c").alias("n_tokens"), F.count("*").alias("n_types")
    )
    ent = (
        tf.join(totals, "source")
        .groupBy("source")
        .agg(
            F.round(
                -F.sum(
                    (F.col("c") / F.col("n_tokens"))
                    * F.log(F.col("c") / F.col("n_tokens"))
                ),
                ENT_ROUND,
            ).alias("entropy"),
            F.max(F.col("c") / F.col("n_tokens")).alias("tsh"),
        )
    )
    ranked = tf.withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("source").orderBy(F.desc("c"), F.asc("term"))
        ),
    ).filter(F.col("r") <= ZIPF_TOP)
    lx = F.log(F.col("r").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    slope = (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("k"),
            F.sum(lx).alias("sx"),
            F.sum(ly).alias("sy"),
            F.sum(lx * ly).alias("sxy"),
            F.sum(lx * lx).alias("sxx"),
        )
        .select(
            "source",
            # k=1 (a one-type source) has no fit: NULL on both engines
            F.when(
                F.col("k") > 1,
                F.round(
                    (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
                    ENT_ROUND,
                ),
            ).alias("zipf_slope"),
        )
    )
    return (
        totals.join(ent, "source")
        .join(slope, "source")
        .select(
            "source",
            "n_tokens",
            "n_types",
            "entropy",
            # NULL, not 0/0, for a single-type source: both engines
            # agree on NULL while NaN formatting would hash-diverge
            F.when(
                F.col("n_types") > 1,
                F.round(
                    F.col("entropy")
                    / F.log(F.col("n_types").cast("double")),
                    ENT_ROUND,
                ),
            ).alias("norm_entropy"),
            F.round(F.col("tsh"), ENT_ROUND).alias("top_share"),
            "zipf_slope",
        )
    )


_ORACLE_ENTROPY = f"""
WITH tf AS (
  SELECT source, unnest(string_split(text, ' ')) AS term
  FROM documents
),
c AS (SELECT source, term, count(*) AS c FROM tf GROUP BY 1, 2),
totals AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_types
  FROM c GROUP BY 1
),
ent AS (
  SELECT c.source,
         round(-sum((c / CAST(n_tokens AS DOUBLE))
               * ln(c / CAST(n_tokens AS DOUBLE))), {ENT_ROUND}) AS entropy,
         max(c / CAST(n_tokens AS DOUBLE)) AS tsh
  FROM c JOIN totals ON c.source = totals.source
  GROUP BY 1
),
ranked AS (
  SELECT source, c,
         row_number() OVER (PARTITION BY source ORDER BY c DESC, term) AS r
  FROM c
),
slope AS (
  SELECT source,
         CASE WHEN count(*) > 1 THEN
           round((count(*) * sum(ln(r) * ln(c)) - sum(ln(r)) * sum(ln(c)))
                 / (count(*) * sum(ln(r) * ln(r)) - sum(ln(r)) * sum(ln(r))),
                 {ENT_ROUND})
         END AS zipf_slope
  FROM ranked WHERE r <= {ZIPF_TOP}
  GROUP BY 1
)
SELECT totals.source, n_tokens, n_types, entropy,
       CASE WHEN n_types > 1
            THEN round(entropy / ln(n_types), {ENT_ROUND}) END AS norm_entropy,
       round(tsh, {ENT_ROUND}) AS top_share,
       zipf_slope
FROM totals JOIN ent ON totals.source = ent.source
            JOIN slope ON totals.source = slope.source
"""

EXTRA_QUERIES["token_entropy_zipf"] = q_token_entropy_zipf
EXTRA_ORACLES["token_entropy_zipf"] = _ORACLE_ENTROPY
