"""Similarity search over embedding columns.

Brute-force cosine top-k (the exact baseline) and a sign-LSH bucketed
variant (the scale path: candidates come from one bucket, so the scan is
1/2^bits of the table per query). Dot products run JVM-side via
``zip_with``/``aggregate`` higher-order functions — no Python UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from . import load

TOP_K = 10
LSH_TARGET_BUCKET = 16  # expected vectors per sign-LSH bucket
QUERY_VEC_ID = 0


def _lsh_bits(n_vectors: int) -> int:
    """Corpus-sized sign-LSH bit count: buckets scale with n so expected
    bucket population stays ~LSH_TARGET_BUCKET (the probe then scans a
    ~constant-sized candidate set at any corpus size; fixed bits would
    degrade to O(n) per bucket)."""
    import math

    return max(1, math.ceil(math.log2(max(n_vectors / LSH_TARGET_BUCKET, 2.0))))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _norm(col):
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-K neighbors of QUERY_VEC_ID by cosine; returns (rank,
    vec_id) — float similarity deliberately excluded from the output so
    the check is engine-precision-independent."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), _norm("v").alias("qn")
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", (dot / (_norm("v") * F.col("qn"))).alias("cos"))
    )
    return (
        scored.orderBy(F.desc("cos"), "vec_id")
        .limit(TOP_K)
        .select(
            F.row_number().over(Window.orderBy(F.desc("cos"), "vec_id")).alias("rank"),
            "vec_id",
        )
    )


_ORACLE_KNN = f"""
WITH q AS (
  SELECT embedding AS qv,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
  FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
),
scored AS (
  SELECT e.vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * q.qn) AS cos
  FROM embeddings e, q
  WHERE e.vec_id != {QUERY_VEC_ID}
)
SELECT row_number() OVER (ORDER BY cos DESC, vec_id) AS rank, vec_id
FROM scored
ORDER BY cos DESC, vec_id
LIMIT {TOP_K}
"""


def _bucket_expr_spark(col, bits: int = 6):
    parts = [
        F.when(F.element_at(col, i) >= 0, "+").otherwise("-") for i in range(1, bits + 1)
    ]
    return F.concat(*parts)


# corpus-sized bucket expr in SQL: sign string of the first
# ceil(log2(n/target)) dims via a scalar subquery
_BUCKET_SQL_DYNAMIC = f"""array_to_string(list_transform(
    embedding[1:(SELECT greatest(1, CAST(ceil(log2(greatest(count(*) / {LSH_TARGET_BUCKET}.0, 2.0))) AS INT)) FROM embeddings)],
    x -> CASE WHEN x >= 0 THEN '+' ELSE '-' END), '')"""


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketing (hyperplanes = the first coordinate axes,
    bit count sized to the corpus — _lsh_bits; deterministic, no stored
    model). Bucket histogram — the candidate-set size distribution an
    ANN probe would scan."""
    emb = load(spark, sf_dir, "embeddings")
    bits = _lsh_bits(emb.count())
    return (
        emb.select(_bucket_expr_spark(F.col("embedding"), bits).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


_ORACLE_ANN_BUCKETS = f"""
SELECT {_BUCKET_SQL_DYNAMIC} AS bucket, count(*) AS n_vectors
FROM embeddings
GROUP BY 1
"""


def q_ann_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN probe: exact top-k *within the query's LSH bucket* — the
    bucketed scale path (scan ≈ n/2^bits instead of n)."""
    emb_raw = load(spark, sf_dir, "embeddings")
    bits = _lsh_bits(emb_raw.count())
    emb = emb_raw.select(
        "vec_id",
        _as_double("embedding").alias("v"),
        _bucket_expr_spark(F.col("embedding"), bits).alias("bucket"),
    )
    q = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv"), _norm("v").alias("qn"), F.col("bucket").alias("qb")
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter((F.col("bucket") == F.col("qb")) & (F.col("vec_id") != QUERY_VEC_ID))
        .select("vec_id", (dot / (_norm("v") * F.col("qn"))).alias("cos"))
    )
    return (
        scored.orderBy(F.desc("cos"), "vec_id")
        .limit(TOP_K)
        .select(
            F.row_number().over(Window.orderBy(F.desc("cos"), "vec_id")).alias("rank"),
            "vec_id",
        )
    )


_ORACLE_ANN_PROBE = f"""
WITH b AS (SELECT vec_id, embedding, {_BUCKET_SQL_DYNAMIC} AS bucket FROM embeddings),
q AS (
  SELECT embedding AS qv, bucket AS qb,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
  FROM b WHERE vec_id = {QUERY_VEC_ID}
),
scored AS (
  SELECT e.vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * q.qn) AS cos
  FROM b e, q
  WHERE e.bucket = q.qb AND e.vec_id != {QUERY_VEC_ID}
)
SELECT row_number() OVER (ORDER BY cos DESC, vec_id) AS rank, vec_id
FROM scored
ORDER BY cos DESC, vec_id
LIMIT {TOP_K}
"""


# --- IVF-flat: coarse quantization + in-cell probe -------------------------------

def _ivf_k(n_vectors: int) -> int:
    """Corpus-sized coarse-centroid count: K ≈ √n, the standard IVF
    sizing — cell population and centroid count both grow as √n, so the
    probe scans ~2√n rows total at any corpus size (a fixed K degrades
    to O(n) cells as the corpus grows)."""
    import math

    return max(4, math.ceil(math.sqrt(n_vectors)))


def _ivf_cells_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative IVF assignment (explode × K + window argmax) — the
    oracle-comparable form. NOT the default path: it materializes n×K
    scored rows (O(n·√n) with K = √n), which is exactly the row
    inflation a 100 TB run cannot afford. Kept for the pandas-vs-SQL
    agreement cross-check (tests/test_queries_oracle.py)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    k = _ivf_k(emb.count())
    cents = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"), _norm("v").alias("cn")
    )
    dot = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = emb.join(F.broadcast(cents)).select(
        "vec_id", "v", "cid", (dot / (_norm("v") * F.col("cn"))).alias("ccos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "cid")
    return scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    ).select("vec_id", "v", "cid")


# Stage memo: one entry per (appId, sf_dir, embeddings fingerprint,
# stage) — the coarse-quantizer and PQ models (driver-side numpy), the
# IVF cell-assignment plan and the persisted recall-panel frames. Cells
# histogram + probe share one assignment scan, and repeated probes pay
# zero extra jobs for model building. The fingerprint (size+mtime, same
# rule as streaming's stage_fingerprint) means a regenerated table at
# the same path never serves stale state, and storing under a new
# fingerprint evicts (and unpersists) every entry of the old one, so a
# dataset-sweep driver (bench_scaling, shuffle_audit) can never pin an
# unbounded chain of stale O(NQ·n) persisted frames in executor storage.
_STAGE_MEMO: dict[tuple, object] = {}


def _unpersist(value) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:  # session already stopped — nothing pinned
            pass


def _memo(spark: SparkSession, sf_dir: str, stage: str, build):
    """The memoised value of ``stage`` for this session and dataset,
    built by calling ``build()`` on first use."""
    from . import table_path
    from .streaming import stage_fingerprint

    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        stage_fingerprint(table_path(sf_dir, "embeddings")),
        stage,
    )
    if key not in _STAGE_MEMO:
        for old in [k for k in _STAGE_MEMO if k[:2] == key[:2] and k[2] != key[2]]:
            _unpersist(_STAGE_MEMO.pop(old))
        _STAGE_MEMO[key] = build()
    return _STAGE_MEMO[key]


def clear_similarity_caches() -> None:
    """Explicit hook for dataset-sweep drivers: unpersist and drop every
    memoised model/frame across all (appId, sf_dir) keys."""
    while _STAGE_MEMO:
        _unpersist(_STAGE_MEMO.popitem()[1])


def _ivf_model(spark: SparkSession, sf_dir: str):
    """Build the coarse quantizer driver-side with ZERO Spark jobs: row
    count from the parquet footer (the manifest-metadata read an Iceberg
    catalog serves in O(1)) and the K = √n seed centroids via a
    predicate-filtered pyarrow read (row-group pruned on vec_id stats).
    At cluster scale both are driver-cheap: √(10^12) = 10^6 rows ≈ one
    small file of the table."""
    import pyarrow.parquet as pq

    from . import table_path

    def build():
        path = table_path(sf_dir, "embeddings")
        k = _ivf_k(pq.ParquetFile(path).metadata.num_rows)
        tbl = pq.read_table(
            path, columns=["vec_id", "embedding"], filters=[("vec_id", "<", k)]
        ).sort_by("vec_id")
        cent_ids = tbl["vec_id"].to_numpy().astype(np.int64)
        cent_mat = np.array(
            [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
        )
        cent_norm = np.sqrt((cent_mat * cent_mat).sum(axis=1))
        return k, cent_mat, cent_ids, cent_norm

    return _memo(spark, sf_dir, "ivf_model", build)


def _ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every vector to its nearest coarse centroid by cosine.

    Centroids are the first K = √n vectors (deterministic k-means-style
    seeding — no stored model, same rule in the oracle; the count() is a
    metadata-only scan). Default path: vectorized pandas-UDF argmax over
    the broadcast centroid matrix — one BLAS matmul per Arrow batch, ONE
    row out per row in (the declarative explode×K form shuffles O(n·√n)
    rows; see _ivf_cells_declarative). Ties broken toward the smallest
    cid in both paths (np.argmax returns the first maximum; cids are
    sorted ascending). At 10^12 vectors K = 10^6 — the centroid matrix
    would be chunked (tiled matmul) rather than held whole, same shape
    otherwise."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    assign = _ivf_assign_udf(spark, sf_dir)
    return emb.select("vec_id", "v", assign("v").alias("cid"))


def _ivf_assign_udf(spark: SparkSession, sf_dir: str):
    """The coarse-quantizer assignment as a reusable pandas UDF (BLAS
    matmul against the broadcast centroid matrix, one row out per row
    in) — shared by the cell builder and the recall panel."""
    _, cent_mat, cent_ids, cent_norm = _ivf_model(spark, sf_dir)

    @F.pandas_udf(T.LongType())
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        x = np.stack(vs.to_numpy()).astype(np.float64)
        cos = (x @ cent_mat.T) / (
            np.sqrt((x * x).sum(axis=1))[:, None] * cent_norm[None, :]
        )
        return pd.Series(cent_ids[np.argmax(cos, axis=1)])

    return assign


def _ivf_cells_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy-plan cache: repeated calls reuse one resolved DataFrame
    (plan resolution + UDF registration cost ~0.5 s per rebuild). The
    cells query additionally persists it (build-once / probe-many)."""
    return _memo(spark, sf_dir, "ivf_cells", lambda: _ivf_cells(spark, sf_dir))


def q_ann_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-size histogram (the inverted-list length distribution).
    Persists the assignment — the index-build step of build-once /
    probe-many."""
    return _ivf_cells_cached(spark, sf_dir).persist().groupBy("cid").agg(
        F.count("*").alias("n_vectors")
    )


def _ivf_query_cell(spark: SparkSession, sf_dir: str):
    """(query vector, its norm, its coarse cell) from the driver-side
    centroid model — ZERO Spark jobs. The cell is computed via the SAME
    vectorized expression as the assignment kernel on a 1-row batch
    (agreement with the declarative window argmax pinned by
    test_ivf_pandas_matches_declarative)."""
    k, cent_mat, cent_ids, cent_norm = _ivf_model(spark, sf_dir)
    if QUERY_VEC_ID >= k:
        raise ValueError("query vector must be one of the IVF seed centroids")
    qi = int(np.searchsorted(cent_ids, QUERY_VEC_ID))
    if qi >= len(cent_ids) or int(cent_ids[qi]) != QUERY_VEC_ID:
        raise ValueError(
            f"query vec_id {QUERY_VEC_ID} absent from the seed-centroid set "
            "(vec_ids are not contiguous from 0)"
        )
    qv = cent_mat[qi]
    qn = float(cent_norm[qi])
    x = qv[None, :]
    qcos = (x @ cent_mat.T) / (
        np.sqrt((x * x).sum(axis=1))[:, None] * cent_norm[None, :]
    )
    qc = int(cent_ids[np.argmax(qcos, axis=1)[0]])
    return qv, qn, qc


def q_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe: exact cosine top-k restricted to the query's cell
    (nprobe=1) — scan ≈ n/IVF_K instead of n. The query vector comes
    from the driver-side centroid model (QUERY_VEC_ID < K by the seeding
    rule) and its cell from the SAME persisted assignment the scan
    filters on — one tiny collect instead of a broadcast-join of a
    filtered branch, so the probe is a single cell-scan job. qn scales
    every candidate's cosine identically, so rank order (the checked
    output) is invariant to its summation order."""
    qv, qn, qc = _ivf_query_cell(spark, sf_dir)
    # reuse the (possibly persisted) assignment plan — the standalone
    # probe is ONE job; after a cells query it scans the in-memory cache
    cells = _ivf_cells_cached(spark, sf_dir)
    qv_col = F.array(*[F.lit(float(v)) for v in qv])
    dot = F.aggregate(
        F.zip_with("v", qv_col, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = cells.filter(
        (F.col("cid") == F.lit(int(qc))) & (F.col("vec_id") != QUERY_VEC_ID)
    ).select("vec_id", (dot / (_norm("v") * F.lit(qn))).alias("cos"))
    return (
        scored.orderBy(F.desc("cos"), "vec_id")
        .limit(TOP_K)
        .select(
            F.row_number().over(Window.orderBy(F.desc("cos"), "vec_id")).alias("rank"),
            "vec_id",
        )
    )


_IVF_CELLS_SQL = """
WITH k AS (
  SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS kk FROM embeddings
),
e AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
c AS (SELECT vec_id AS cid, embedding AS cv, nrm AS cn FROM e WHERE vec_id < (SELECT kk FROM k)),
scored AS (
  SELECT e.vec_id, e.embedding, e.nrm, c.cid,
         list_sum(list_transform(list_zip(e.embedding, c.cv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (e.nrm * c.cn) AS ccos
  FROM e CROSS JOIN c
),
cells AS (
  SELECT vec_id, embedding, nrm, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn FROM scored)
  WHERE rn = 1
)
"""

_ORACLE_IVF_CELLS = (
    _IVF_CELLS_SQL + "SELECT cid, count(*) AS n_vectors FROM cells GROUP BY cid"
)

_ORACLE_IVF_PROBE = (
    _IVF_CELLS_SQL
    + f"""
, q AS (SELECT embedding AS qv, nrm AS qn, cid AS qc FROM cells WHERE vec_id = {QUERY_VEC_ID}),
probe AS (
  SELECT cells.vec_id,
         list_sum(list_transform(list_zip(cells.embedding, q.qv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (cells.nrm * q.qn) AS cos
  FROM cells, q
  WHERE cells.cid = q.qc AND cells.vec_id != {QUERY_VEC_ID}
)
SELECT row_number() OVER (ORDER BY cos DESC, vec_id) AS rank, vec_id
FROM probe ORDER BY cos DESC, vec_id LIMIT {TOP_K}
"""
)


def q_label_centroid_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid: cluster sizes + centroid dimension count
    (element-wise mean via posexplode + groupBy; no driver loops)."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode(_as_double("embedding")).alias("dim", "x")
    )
    centroid = dims.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    return (
        centroid.groupBy("label")
        .agg(F.count("*").alias("n_dims"))
        .join(
            emb.groupBy("label").agg(F.count("*").alias("n_vectors")),
            "label",
        )
    )


_ORACLE_CENTROID = """
WITH dims AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
centroid AS (SELECT label, dim, avg(x) AS c FROM dims GROUP BY 1, 2)
SELECT c.label, c.n_dims, v.n_vectors
FROM (SELECT label, count(*) AS n_dims FROM centroid GROUP BY label) c
JOIN (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label) v
  ON c.label = v.label
"""


# --- k-means clustering (unrolled Lloyd, oracle-checkable) -----------------
# K = √n (the IVF sizing rule — at 10^12 vectors K = 10^6), seeds = the
# first K vectors. KM_K_MIN floors tiny test corpora.
KM_K_MIN = 4
KM_ROUND = 6    # centroid rounding: kills engine-summation ulp divergence


def _km_assign_udf(cent_mat: np.ndarray, cent_ids: np.ndarray):
    """Vectorized squared-L2 argmin over a broadcast centroid matrix —
    one row out per row in, ties toward the smallest cid (np.argmin
    returns the first minimum; cent_ids are sorted ascending). The
    distance uses the matmul expansion ‖x‖² + ‖c‖² − 2x·c (one BLAS
    GEMM per Arrow batch) instead of materializing the batch×K×d
    difference tensor — with K = √n that tensor is the exact row
    inflation a 10^6-centroid assignment cannot afford. Distances round
    to KM_ROUND decimals before the argmin so near-tie cells can't flip
    on summation-order ulps between numpy/BLAS and the oracle engine."""
    cn2 = (cent_mat * cent_mat).sum(axis=1)

    @F.pandas_udf(T.LongType())
    def assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="int64")
        x = np.stack(vs.to_numpy()).astype(np.float64)
        d = (x * x).sum(axis=1)[:, None] + cn2[None, :] - 2.0 * (x @ cent_mat.T)
        return pd.Series(cent_ids[np.argmin(np.round(d, KM_ROUND), axis=1)])

    return assign


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding k-means — two Lloyd iterations in the canonical
    distributed shape with K = √n (the IVF sizing; at 10^12 vectors
    K = 10^6): assignment is a pandas-UDF argmin over the broadcast K×d
    centroid matrix (one Arrow-batched matmul-style pass, one row out
    per row in); the centroid update is a TWO-LEVEL aggregation —
    posexplode → groupBy(cid, dim) avg → groupBy(cid) collect_list —
    so the driver receives K packed model rows (one d-vector per
    centroid), never a K×d-row collect burst; at 10^6 centroids the
    same frame is fetched range-partitioned on cid in bounded chunks
    (toLocalIterator) while the model spills to disk — collect() here
    is the small-K fast path of that identical shape. Centroid
    means round to KM_ROUND decimals so the assignment is
    engine-precision-independent, and the output is integer-only (final
    cluster sizes + members that moved between iterations), exactly
    matched by a DuckDB oracle with the Lloyd steps unrolled as CTEs.
    Seeds are the first K vectors (same deterministic rule as the IVF
    coarse quantizer)."""
    import pyarrow.parquet as pq

    from . import table_path

    path = table_path(sf_dir, "embeddings")
    km_k = max(KM_K_MIN, _ivf_k(pq.ParquetFile(path).metadata.num_rows))
    tbl = pq.read_table(
        path,
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "<", km_k)],
    ).sort_by("vec_id")
    ids0 = tbl["vec_id"].to_numpy().astype(np.int64)
    c0 = np.array(
        [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
    )
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    assign0 = _km_assign_udf(c0, ids0)
    a1 = emb.select("vec_id", "v", assign0("v").alias("cid"))
    m1 = (
        a1.select("cid", F.posexplode("v").alias("pos", "x"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("x"), KM_ROUND).alias("c"))
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("cv"))
    )
    ids_list: list[int] = []
    vecs: list[list[float]] = []
    for r in m1.collect():  # K packed model rows, one per centroid
        ids_list.append(r["cid"])
        vecs.append([e["c"] for e in r["cv"]])
    order = np.argsort(np.array(ids_list, dtype=np.int64))
    ids1 = np.array(ids_list, dtype=np.int64)[order]
    c1 = np.array(vecs, dtype=np.float64)[order]
    assign1 = _km_assign_udf(c1, ids1)
    # one pass computes BOTH assignments (re-running the cheap iter-0
    # argmin beats a vec_id shuffle join of two assignment scans)
    a2 = emb.select(
        "vec_id", assign0("v").alias("cid1"), assign1("v").alias("cid2")
    )
    return a2.groupBy(F.col("cid2").alias("cid")).agg(
        F.count("*").alias("n_vectors"),
        F.sum((F.col("cid1") != F.col("cid2")).cast("long")).alias("n_moved"),
    )


_ORACLE_KMEANS = f"""
WITH kmk AS (
  SELECT greatest({KM_K_MIN}, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS kk
  FROM embeddings
),
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < (SELECT kk FROM kmk)),
d1 AS (SELECT e.vec_id, c0.cid,
         round(list_sum(list_transform(range(1, len(e.v) + 1),
                 i -> (e.v[i] - c0.cv[i]) * (e.v[i] - c0.cv[i]))), {KM_ROUND}) AS d
       FROM e CROSS JOIN c0),
a1 AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         FROM d1) WHERE rn = 1),
m1e AS (SELECT a1.cid, generate_subscripts(e.v, 1) - 1 AS pos, unnest(e.v) AS x
        FROM a1 JOIN e USING (vec_id)),
m1 AS (SELECT cid, pos, round(avg(x), {KM_ROUND}) AS c FROM m1e GROUP BY 1, 2),
c1 AS (SELECT cid, list(c ORDER BY pos) AS cv FROM m1 GROUP BY cid),
d2 AS (SELECT e.vec_id, c1.cid,
         round(list_sum(list_transform(range(1, len(e.v) + 1),
                 i -> (e.v[i] - c1.cv[i]) * (e.v[i] - c1.cv[i]))), {KM_ROUND}) AS d
       FROM e CROSS JOIN c1),
a2 AS (SELECT vec_id, cid FROM (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         FROM d2) WHERE rn = 1)
SELECT a2.cid, count(*) AS n_vectors,
       CAST(sum(CASE WHEN a1.cid <> a2.cid THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
FROM a2 JOIN a1 USING (vec_id)
GROUP BY a2.cid
"""


# --- ANN recall measurement ------------------------------------------------
ANN_RECALL_NQ = 16  # sampled query panel size


def _two_level_topk(
    df: DataFrame,
    order_col,
    k: int = TOP_K,
    keep: tuple = ("qid", "vec_id"),
    rank_name: str | None = None,
) -> DataFrame:
    """Top-k rows per qid by order_col with vec_id tiebreak, in two
    levels: a window partitioned ONLY by qid would sort all n candidate
    rows of a query in one task (NQ tasks total — a scale-breaker);
    instead each input partition keeps its local top-k per qid in
    parallel, then the final window ranks the tiny k×P survivor set.
    Top-k is associative, so the result is placement-independent. The
    single shared definition keeps every consumer's ranking semantics
    identical — a tiebreak change can never diverge between recall
    arms or between recall and hard-negative mining. ``keep`` selects
    the output columns; ``rank_name`` optionally exposes the final
    rank as a column (include it in ``keep``)."""
    w1 = Window.partitionBy("qid", "part").orderBy(order_col, "vec_id")
    w2 = Window.partitionBy("qid").orderBy(order_col, "vec_id")
    local = (
        df.withColumn("part", F.spark_partition_id())
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
    )
    ranked = local.withColumn("rn2", F.row_number().over(w2)).filter(
        F.col("rn2") <= k
    )
    if rank_name is not None:
        ranked = ranked.withColumn(rank_name, F.col("rn2"))
    return ranked.select(*keep)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the sign-LSH bucketed ANN against exact brute force,
    measured over a panel of ANN_RECALL_NQ query vectors — the index-
    quality number an ANN deployment must measure rather than assume.
    Per query: exact top-K by cosine over the whole corpus, bucketed
    top-K over the query's LSH bucket, recall = |intersection| / K.

    Three index arms are measured side by side: LSH single-probe (the
    query's own bucket), LSH multi-probe at Hamming distance ≤ 1 (the
    bucket plus its `bits` one-bit-flip neighbors — the classic
    multi-probe tradeoff: ~(bits+1)× the candidate scan for a recall
    jump), and IVF nprobe=1 (the query's own coarse cell, assignment
    via the same pandas-UDF argmax the index builder uses). On a corpus
    with little neighborhood structure the single-probe numbers degrade
    toward the bucket/cell mass fraction — which is exactly what this
    panel exists to surface before anyone trusts an index.

    Scale shape: the query panel broadcasts (NQ rows), both arms rank
    with a window PARTITIONED BY query id (parallel across queries,
    never a global sort), and the exact arm costs O(NQ·n) — the
    irreducible price of ground truth, kept linear in n by the fixed
    sampled panel."""
    emb_raw = load(spark, sf_dir, "embeddings")
    bits = _lsh_bits(emb_raw.count())
    assign = _ivf_assign_udf(spark, sf_dir)
    emb = (
        emb_raw.select(
            "vec_id",
            _as_double("embedding").alias("v"),
            _bucket_expr_spark(F.col("embedding"), bits).alias("bucket"),
        )
        .withColumn("nv", _norm("v"))
        .withColumn("cid", assign("v"))
    )
    qs = emb.filter(F.col("vec_id") < ANN_RECALL_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nv").alias("qn"),
        F.col("bucket").alias("qb"),
        F.col("cid").alias("qc"),
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    # Hamming distance between the candidate's and the query's sign
    # buckets (equal-length strings of '+'/'-'; bits known at plan time)
    ham = sum(
        (
            F.substring(F.col("bucket"), i, 1) != F.substring(F.col("qb"), i, 1)
        ).cast("int")
        for i in range(1, bits + 1)
    )
    pairs = (
        emb.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            ham.alias("ham"),
            (F.col("cid") == F.col("qc")).alias("same_cell"),
            (dot / (F.col("nv") * F.col("qn"))).alias("cos"),
        )
    )
    # four arms rank this frame; without the persist each arm re-scans,
    # re-crossjoins, and re-scores (the arm filters sit below the window
    # exchanges, so Spark cannot reuse them). Memoised per (session,
    # dataset) like the IVF cell assignment so repeat panel runs reuse
    # ONE persisted frame instead of leaking a new cache entry per call.
    pairs = _memo(spark, sf_dir, "recall_pairs", pairs.persist)
    # one shared two-level ranking definition for all arms (see
    # _two_level_topk)
    exact = _two_level_topk(pairs, F.desc("cos"))
    ann1 = _two_level_topk(pairs.filter(F.col("ham") == 0), F.desc("cos"))
    annm = _two_level_topk(pairs.filter(F.col("ham") <= 1), F.desc("cos"))
    annivf = _two_level_topk(pairs.filter(F.col("same_cell")), F.desc("cos"))

    def _recall(ann, hit_name):
        # explicit aliases: the frames share lineage (all derive from
        # pairs), and an unaliased qid==qid predicate would lean on
        # Spark's ambiguous-self-join rescue instead of being unambiguous
        x, a = exact.alias("x"), ann.alias("a")
        hits = x.join(
            a,
            (F.col("x.qid") == F.col("a.qid"))
            & (F.col("x.vec_id") == F.col("a.vec_id")),
            "left",
        ).select(F.col("x.qid").alias("qid"), F.col("a.vec_id").alias("hit"))
        return hits.groupBy("qid").agg(
            F.count("hit").alias(f"n_hits{hit_name}"),
            F.round(F.count("hit") / F.lit(TOP_K), 4).alias(f"recall{hit_name}"),
        )

    return (
        _recall(ann1, "")
        .join(_recall(annm, "_mp"), "qid")
        .join(_recall(annivf, "_ivf"), "qid")
    )


_ORACLE_ANN_RECALL = _IVF_CELLS_SQL + f""",
b AS (SELECT vec_id, {_BUCKET_SQL_DYNAMIC} AS bucket FROM embeddings),
ce AS (
  SELECT cells.vec_id, cells.embedding AS v, cells.nrm AS nv,
         cells.cid, b.bucket
  FROM cells JOIN b USING (vec_id)
),
q AS (SELECT vec_id AS qid, v AS qv, nv AS qn, bucket AS qb, cid AS qc
      FROM ce WHERE vec_id < {ANN_RECALL_NQ}),
pairs AS (
  SELECT q.qid, ce.vec_id,
         list_sum(list_transform(range(1, len(ce.bucket) + 1),
           i -> CASE WHEN substring(ce.bucket, i, 1) != substring(q.qb, i, 1)
                THEN 1 ELSE 0 END)) AS ham,
         ce.cid = q.qc AS same_cell,
         list_sum(list_transform(list_zip(ce.v, q.qv),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) / (ce.nv * q.qn) AS cos
  FROM ce, q WHERE ce.vec_id != q.qid
),
exact AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
    FROM pairs) WHERE rn <= {TOP_K}
),
ann1 AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
    FROM pairs WHERE ham = 0) WHERE rn <= {TOP_K}
),
annm AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
    FROM pairs WHERE ham <= 1) WHERE rn <= {TOP_K}
),
annivf AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
    FROM pairs WHERE same_cell) WHERE rn <= {TOP_K}
)
SELECT x.qid, count(a1.vec_id) AS n_hits,
       round(count(a1.vec_id) / CAST({TOP_K} AS DOUBLE), 4) AS recall,
       count(am.vec_id) AS n_hits_mp,
       round(count(am.vec_id) / CAST({TOP_K} AS DOUBLE), 4) AS recall_mp,
       count(ai.vec_id) AS n_hits_ivf,
       round(count(ai.vec_id) / CAST({TOP_K} AS DOUBLE), 4) AS recall_ivf
FROM exact x
LEFT JOIN ann1 a1 ON x.qid = a1.qid AND x.vec_id = a1.vec_id
LEFT JOIN annm am ON x.qid = am.qid AND x.vec_id = am.vec_id
LEFT JOIN annivf ai ON x.qid = ai.qid AND x.vec_id = ai.vec_id
GROUP BY x.qid
"""


# --- product quantization (PQ codes + asymmetric-distance probe) -----------
PQ_M = 4          # subspaces (64-dim embeddings -> 16 dims each)
PQ_K = 16         # codes per subspace: 4-bit codes, 4 bytes/vector total —
                  # 64x smaller than the float32 vector (the memory layout
                  # that makes trillion-vector ANN fit on a cluster;
                  # Jégou, Douze & Schmid, TPAMI 2011)
PQ_ROUND = 6      # subspace-distance rounding before argmin (KM_ROUND rule)


def _pq_model(spark: SparkSession, sf_dir: str):
    """Driver-side PQ codebooks: for each of the PQ_M subspaces, the
    centroids are the sub-vectors of the first min(PQ_K, n) vec_ids —
    the same deterministic seeding rule as the IVF coarse quantizer and
    k-means, so the oracle can re-derive the codebook in SQL. Returns
    (k, codebooks[M][k][sub_d]) as float64 numpy."""
    return _memo(spark, sf_dir, "pq_model", lambda: _build_pq_model(sf_dir))


def _build_pq_model(sf_dir: str):
    import pyarrow.parquet as pq

    from . import table_path

    path = table_path(sf_dir, "embeddings")
    n = pq.ParquetFile(path).metadata.num_rows
    k = min(PQ_K, n)
    tbl = pq.read_table(
        path, columns=["vec_id", "embedding"], filters=[("vec_id", "<", k)]
    ).sort_by("vec_id")
    seed_ids = tbl["vec_id"].to_numpy().astype(np.int64)
    # PQ codes are positional codebook rows AND the oracle labels them
    # by vec_id — both readings agree only when seeds are 0..k-1
    # (the same contiguity _ivf_query_cell enforces for the query)
    if len(seed_ids) != k or not np.array_equal(seed_ids, np.arange(k)):
        raise ValueError(
            f"PQ codebook seeds must be contiguous vec_ids 0..{k - 1}; "
            f"got {seed_ids[:8].tolist()}..."
        )
    seeds = np.array(
        [np.asarray(v, dtype=np.float64) for v in tbl["embedding"].to_pylist()]
    )
    d = seeds.shape[1]
    if d % PQ_M:
        raise ValueError(f"embedding dim {d} not divisible by PQ_M={PQ_M}")
    sub = d // PQ_M
    books = seeds.reshape(k, PQ_M, sub).transpose(1, 0, 2)  # (M, k, sub)
    return k, books


def _pq_encode_udf(books: np.ndarray):
    """Vectorized PQ encoder: one Arrow batch in, one code-array out per
    row. Per subspace, squared-L2 to the codebook (a BLAS matmul away)
    rounded to PQ_ROUND before the argmin (ties to the smallest code,
    same ulp discipline as the k-means assignment)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="object")
        x = np.stack(vs.to_numpy()).astype(np.float64)
        n, d = x.shape
        m, k, sub = books.shape
        xs = x.reshape(n, m, sub)
        codes = np.empty((n, m), dtype=np.int64)
        for j in range(m):
            diff = xs[:, j, None, :] - books[None, j, :, :]
            dist = np.round((diff * diff).sum(axis=2), PQ_ROUND)
            codes[:, j] = np.argmin(dist, axis=1)
        return pd.Series(list(codes))

    return encode


def _pq_codes_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, books = _pq_model(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    return emb.select("vec_id", "v", _pq_encode_udf(books)("v").alias("codes"))


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ code histogram per subspace — the index-build step. Encoding
    is one UDF pass, one row out per row in; at production the codes
    column is materialized next to the table (4 bytes/vector) and this
    histogram is the codebook-balance health check."""
    return (
        _pq_codes_df(spark, sf_dir)
        .select(F.posexplode("codes").alias("sub", "code"))
        .groupBy("sub", "code")
        .agg(F.count("*").alias("n_vectors"))
    )


def _pq_query_lut(k: int, books: np.ndarray, qid: int = QUERY_VEC_ID) -> np.ndarray:
    """The (M, k) ADC lookup table for query ``qid`` in integer
    micro-units (round(d², 6)·10⁶ as int64): exact integer sums on both
    engines. The query's sub-vectors come from the codebook itself
    (qid < k by the seeding rule)."""
    lut = np.empty((PQ_M, k), dtype=np.int64)
    for j in range(PQ_M):
        diff = books[j] - books[j][qid][None, :]
        d6 = np.round((diff * diff).sum(axis=1), PQ_ROUND)
        lut[j] = np.rint(d6 * 1_000_000).astype(np.int64)
    return lut


def _pq_adc_col(lut: np.ndarray):
    """ADC as a pure-JVM column over the `codes` array: M literal-array
    lookups + adds, never touching the float vectors."""
    adc = None
    for j in range(PQ_M):
        arr = F.array(*[F.lit(int(v)) for v in lut[j]])
        term = F.element_at(
            arr, (F.element_at("codes", j + 1) + 1).cast("int")
        )
        adc = term if adc is None else adc + term
    return adc


def q_pq_adc_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-K: the query stays un-quantized;
    each corpus vector's distance is the sum of M lookup-table entries
    addressed by its PQ codes. The M×K LUT is built driver-side in
    INTEGER micro-units (round(d², 6)·10⁶ as int64), so the ADC sum is
    exact integer arithmetic — bit-identical between Spark and the
    DuckDB oracle — and the scan is pure JVM column math
    (element_at + adds) over 4-byte codes, never touching the floats.
    That is the FAISS IVFADC scan shape: at 10^12 vectors the probe
    reads codes only (~4 TB instead of 256 TB of float32)."""
    codes = _pq_codes_df(spark, sf_dir)
    adc = _pq_adc_col(_pq_query_lut(*_pq_model(spark, sf_dir)))
    scored = codes.filter(F.col("vec_id") != QUERY_VEC_ID).select(
        "vec_id", adc.alias("adc")
    )
    return (
        scored.orderBy("adc", "vec_id")
        .limit(TOP_K)
        .select(
            F.row_number().over(Window.orderBy("adc", "vec_id")).alias("rank"),
            "vec_id",
            "adc",
        )
    )


PQ_NQ = 8  # recall-panel size: seed queries 0..NQ-1 (all inside the
           # codebook seed set, so their ADC lookup tables are exactly
           # the code-assignment distance rows — no extra model state)


def _pq_panel_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared PQ panel frame (qid, vec_id, cid, adc, exact_d), one
    row per (panel query, candidate): ADC in integer micro-units via the
    per-query LUTs, exact squared-L2 in the same micro-unit discipline,
    and the candidate's IVF coarse cell (for the multiprobe arms — one
    extra pandas-UDF column over the same vector batch, no extra scan).
    Persisted once per (session, dataset) — q_pq_recall and
    q_ann_ivfpq_multiprobe share it, and repeat panel runs must not leak
    memo entries (_memo)."""
    return _memo(spark, sf_dir, "pq_panel", lambda: _build_pq_panel(spark, sf_dir))


def _build_pq_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    k, books = _pq_model(spark, sf_dir)
    nq = min(PQ_NQ, k)
    # per-query ADC LUTs in integer micro-units (queries are the seeds;
    # same builder as the single-query probes) — (M, nq, k)
    luts = np.stack([_pq_query_lut(k, books, q) for q in range(nq)], axis=1)
    codes = _pq_codes_df(spark, sf_dir).withColumn(
        "cid", _ivf_assign_udf(spark, sf_dir)("v")
    )
    qs = codes.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    pairs = codes.crossJoin(F.broadcast(qs)).filter(
        F.col("vec_id") != F.col("qid")
    )
    adc = None
    for j in range(PQ_M):
        lut_j = F.array(
            *[F.array(*[F.lit(int(v)) for v in luts[j, q]]) for q in range(nq)]
        )
        term = F.element_at(
            F.element_at(lut_j, (F.col("qid") + 1).cast("int")),
            (F.element_at("codes", j + 1) + 1).cast("int"),
        )
        adc = term if adc is None else adc + term
    # exact squared-L2 in the same micro-unit discipline
    exd = F.round(
        F.aggregate(
            F.zip_with("v", "qv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        PQ_ROUND,
    )
    return pairs.select(
        "qid",
        "vec_id",
        "cid",
        adc.alias("adc"),
        F.round(exd * 1_000_000).cast("long").alias("exact_d"),
    ).persist()


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the PQ/ADC ranking against exact squared-L2, per
    panel query — the quantization-loss number a compressed index must
    measure before anyone trusts 4-bit codes at 10^12 vectors. Both
    arms rank in integer micro-units with the same (distance, vec_id)
    tiebreak, so the comparison is bit-deterministic across engines.

    Scale shape: the ADC arm never touches the float vectors (nested
    literal-array lookups over the codes column); the exact arm is the
    O(NQ·n) ground-truth price, kept linear by the fixed panel — the
    same budget the ann_recall panel pays. Both arms use the two-level
    top-K (partition-local then global) so no task ever sorts a full
    query's candidate set."""
    scored = _pq_panel_scored(spark, sf_dir)
    topa = _two_level_topk(scored, F.col("adc"))
    tope = _two_level_topk(scored, F.col("exact_d"))
    return (
        tope.join(topa.withColumn("hit", F.lit(1)), ["qid", "vec_id"], "left")
        .groupBy("qid")
        .agg(F.count("hit").alias("n_overlap"))
    )


# --- IVFADC multi-probe (the production recall-vs-cost knob) ----------------
IVFPQ_NPROBE = 4  # cells swept by the multiprobe arm


def _panel_probe_cells(spark: SparkSession, sf_dir: str, nq: int, nprobe: int):
    """(nq, ≤nprobe) nearest coarse cells per panel query, driver-side —
    the SAME cosine expression as the assignment kernel (so column 0 is
    exactly the query's assigned cell), ranked with ties toward the
    smaller cid, matching the oracle's row_number ORDER BY ccos DESC,
    cid. At 10^12 vectors this is a 10^6-row centroid table the driver
    (or each executor) already holds for assignment — probe-cell
    selection is model-sized, never a Spark job."""
    k, cent_mat, cent_ids, cent_norm = _ivf_model(spark, sf_dir)
    if len(cent_ids) < nq or not np.array_equal(
        cent_ids[:nq], np.arange(nq, dtype=np.int64)
    ):
        raise ValueError(
            f"panel queries must be contiguous seed vec_ids 0..{nq - 1}"
        )
    x = cent_mat[:nq]
    cos = (x @ cent_mat.T) / (
        np.sqrt((x * x).sum(axis=1))[:, None] * cent_norm[None, :]
    )
    width = min(nprobe, k)
    out = np.empty((nq, width), dtype=np.int64)
    for i in range(nq):
        idx = np.lexsort((cent_ids, -cos[i]))
        out[i] = cent_ids[idx[:width]]
    return out


def q_ann_ivfpq_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC recall-vs-cost panel: recall@K and candidate-scan cost of
    the composed IVF+PQ probe at nprobe=1 (the query's own cell) vs
    nprobe=IVFPQ_NPROBE (the 4 nearest cells — the production multiprobe
    sweep, FAISS `nprobe`). Ground truth is exact squared-L2 over all
    candidates; both probe arms rank by integer-LUT asymmetric distance,
    restricted to the probed cells via a broadcast (nq × nprobe) literal
    cell table — probe-cell selection is driver-side model math, zero
    Spark jobs. Everything reuses the one persisted panel frame
    (_pq_panel_scored), so the whole query adds only statistics-sized
    work on top of the pq_recall scan."""
    scored = _pq_panel_scored(spark, sf_dir)
    k, _ = _pq_model(spark, sf_dir)
    nq = min(PQ_NQ, k)
    qcells = _panel_probe_cells(spark, sf_dir, nq, IVFPQ_NPROBE)
    cells_lit = F.array(
        *[F.array(*[F.lit(int(c)) for c in row]) for row in qcells]
    )
    my_cells = F.element_at(cells_lit, (F.col("qid") + 1).cast("int"))
    in1 = F.element_at(my_cells, 1) == F.col("cid")
    inp = F.array_contains(my_cells, F.col("cid"))
    counts = scored.groupBy("qid").agg(
        F.sum(in1.cast("long")).alias("n_cand_np1"),
        F.sum(inp.cast("long")).alias("n_cand_np4"),
    )
    tope = _two_level_topk(scored, F.col("exact_d"))

    def _arm(flag, tag: str):
        top = _two_level_topk(scored.filter(flag), F.col("adc"))
        x, a = tope.alias("x"), top.alias("a")
        hits = x.join(
            a,
            (F.col("x.qid") == F.col("a.qid"))
            & (F.col("x.vec_id") == F.col("a.vec_id")),
            "left",
        ).select(F.col("x.qid").alias("qid"), F.col("a.vec_id").alias("hit"))
        return hits.groupBy("qid").agg(
            F.count("hit").alias(f"n_hits{tag}"),
            F.round(F.count("hit") / F.lit(TOP_K), 4).alias(f"recall{tag}"),
        )

    return _arm(in1, "_np1").join(_arm(inp, "_np4"), "qid").join(counts, "qid")




# CTE body shared by every PQ oracle; `pe` (not `e`) so it composes with
# _IVF_CELLS_SQL's preamble in the combined IVF+PQ probe
_PQ_CTES = f"""kk AS (SELECT least({PQ_K}, count(*)) AS k FROM embeddings),
pe AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       FROM embeddings),
dim AS (SELECT len(v) // {PQ_M} AS sub FROM pe LIMIT 1),
cb AS (SELECT vec_id AS code, v AS cv FROM pe WHERE vec_id < (SELECT k FROM kk)),
m AS (SELECT unnest(range({PQ_M})) AS sub_idx),
dists AS (
  SELECT pe.vec_id, m.sub_idx, cb.code,
         round(list_sum(list_transform(range(1, dim.sub + 1),
             i -> (pe.v[m.sub_idx * dim.sub + i]
                   - cb.cv[m.sub_idx * dim.sub + i])
                  * (pe.v[m.sub_idx * dim.sub + i]
                     - cb.cv[m.sub_idx * dim.sub + i]))),
               {PQ_ROUND}) AS d
  FROM pe CROSS JOIN m CROSS JOIN cb CROSS JOIN dim
),
codes AS (
  SELECT vec_id, sub_idx, code
  FROM (SELECT vec_id, sub_idx, code,
               row_number() OVER (PARTITION BY vec_id, sub_idx
                                  ORDER BY d, code) AS rn
        FROM dists)
  WHERE rn = 1
)"""

_PQ_CODES_SQL = "WITH " + _PQ_CTES

_ORACLE_PQ_CODES = (
    _PQ_CODES_SQL
    + """
SELECT sub_idx AS sub, code, count(*) AS n_vectors
FROM codes GROUP BY 1, 2
"""
)

_ORACLE_PQ_ADC = (
    _PQ_CODES_SQL
    + f""",
lut AS (
  SELECT sub_idx, code, CAST(round(d * 1000000) AS BIGINT) AS du
  FROM dists WHERE vec_id = {QUERY_VEC_ID}
),
adc AS (
  SELECT c.vec_id, CAST(sum(l.du) AS BIGINT) AS adc
  FROM codes c JOIN lut l ON l.sub_idx = c.sub_idx AND l.code = c.code
  WHERE c.vec_id != {QUERY_VEC_ID}
  GROUP BY 1
)
SELECT row_number() OVER (ORDER BY adc, vec_id) AS rank, vec_id, adc
FROM adc ORDER BY adc, vec_id LIMIT {TOP_K}
"""
)


def q_ann_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed production ANN layout — IVF-PQ (FAISS IVFADC,
    Jégou et al. TPAMI 2011): the coarse quantizer restricts the scan
    to the query's cell (nprobe=1, ≈ n/√n rows) and the PQ codes rank
    it by integer-LUT asymmetric distance. One scan computes both the
    cell assignment and the codes (two pandas-UDF columns over the same
    vector batch); the probe itself reads 4-byte codes only. At 10^12
    vectors this is the layout that serves queries from ~4 TB of codes
    + a 10^6-row centroid table instead of 256 TB of float32."""
    _, _, qc = _ivf_query_cell(spark, sf_dir)
    assign = _ivf_assign_udf(spark, sf_dir)
    frame = _pq_codes_df(spark, sf_dir).withColumn("cid", assign("v"))
    adc = _pq_adc_col(_pq_query_lut(*_pq_model(spark, sf_dir)))
    scored = frame.filter(
        (F.col("cid") == F.lit(qc)) & (F.col("vec_id") != QUERY_VEC_ID)
    ).select("vec_id", adc.alias("adc"))
    return (
        scored.orderBy("adc", "vec_id")
        .limit(TOP_K)
        .select(
            F.row_number().over(Window.orderBy("adc", "vec_id")).alias("rank"),
            "vec_id",
            "adc",
        )
    )


_ORACLE_IVFPQ_PROBE = (
    _IVF_CELLS_SQL
    + ",\n"
    + _PQ_CTES
    + f""",
lut AS (
  SELECT sub_idx, code, CAST(round(d * 1000000) AS BIGINT) AS du
  FROM dists WHERE vec_id = {QUERY_VEC_ID}
),
qcell AS (SELECT cid FROM cells WHERE vec_id = {QUERY_VEC_ID}),
adc AS (
  SELECT c.vec_id, CAST(sum(l.du) AS BIGINT) AS adc
  FROM codes c
  JOIN lut l ON l.sub_idx = c.sub_idx AND l.code = c.code
  JOIN cells ce ON ce.vec_id = c.vec_id
  WHERE ce.cid = (SELECT cid FROM qcell) AND c.vec_id != {QUERY_VEC_ID}
  GROUP BY 1
)
SELECT row_number() OVER (ORDER BY adc, vec_id) AS rank, vec_id, adc
FROM adc ORDER BY adc, vec_id LIMIT {TOP_K}
"""
)


_ORACLE_PQ_RECALL = (
    _PQ_CODES_SQL
    + f""",
q AS (SELECT vec_id AS qid, v AS qv FROM pe WHERE vec_id < {PQ_NQ}),
lut AS (
  SELECT vec_id AS qid, sub_idx, code, CAST(round(d * 1000000) AS BIGINT) AS du
  FROM dists WHERE vec_id < {PQ_NQ}
),
adc AS (
  SELECT l.qid, c.vec_id, CAST(sum(l.du) AS BIGINT) AS adc
  FROM codes c JOIN lut l ON l.sub_idx = c.sub_idx AND l.code = c.code
  WHERE c.vec_id != l.qid
  GROUP BY 1, 2
),
ex AS (
  SELECT q.qid, pe.vec_id,
         CAST(round(round(list_sum(list_transform(range(1, len(pe.v) + 1),
               i -> (pe.v[i] - q.qv[i]) * (pe.v[i] - q.qv[i]))), {PQ_ROUND})
               * 1000000) AS BIGINT) AS d
  FROM pe CROSS JOIN q WHERE pe.vec_id != q.qid
),
topa AS (SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS rn
    FROM adc) WHERE rn <= {TOP_K}),
tope AS (SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
    FROM ex) WHERE rn <= {TOP_K})
SELECT t.qid, CAST(count(a.qid) AS BIGINT) AS n_overlap
FROM tope t LEFT JOIN topa a ON a.qid = t.qid AND a.vec_id = t.vec_id
GROUP BY 1
"""
)


_ORACLE_IVFPQ_MULTIPROBE = (
    _IVF_CELLS_SQL
    + ",\n"
    + _PQ_CTES
    + f""",
q AS (SELECT vec_id AS qid, v AS qv FROM pe WHERE vec_id < {PQ_NQ}),
lut AS (
  SELECT vec_id AS qid, sub_idx, code, CAST(round(d * 1000000) AS BIGINT) AS du
  FROM dists WHERE vec_id < {PQ_NQ}
),
qcells AS (
  SELECT vec_id AS qid, cid, rn FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cid) AS rn
    FROM scored WHERE vec_id < {PQ_NQ})
  WHERE rn <= {IVFPQ_NPROBE}
),
cand AS (
  SELECT qc.qid, ce.vec_id, qc.rn
  FROM cells ce JOIN qcells qc ON qc.cid = ce.cid
  WHERE ce.vec_id != qc.qid
),
counts AS (
  SELECT q.qid,
         CAST(coalesce(sum(CASE WHEN ca.rn = 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_cand_np1,
         CAST(count(ca.vec_id) AS BIGINT) AS n_cand_np4
  FROM q LEFT JOIN cand ca ON ca.qid = q.qid
  GROUP BY q.qid
),
padc AS (
  SELECT ca.qid, ca.vec_id, ca.rn, CAST(sum(l.du) AS BIGINT) AS adc
  FROM cand ca
  JOIN codes c ON c.vec_id = ca.vec_id
  JOIN lut l ON l.qid = ca.qid AND l.sub_idx = c.sub_idx AND l.code = c.code
  GROUP BY 1, 2, 3
),
top1 AS (SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS r
    FROM padc WHERE rn = 1) WHERE r <= {TOP_K}),
top4 AS (SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS r
    FROM padc) WHERE r <= {TOP_K}),
ex AS (
  SELECT q.qid, pe.vec_id,
         CAST(round(round(list_sum(list_transform(range(1, len(pe.v) + 1),
               i -> (pe.v[i] - q.qv[i]) * (pe.v[i] - q.qv[i]))), {PQ_ROUND})
               * 1000000) AS BIGINT) AS d
  FROM pe CROSS JOIN q WHERE pe.vec_id != q.qid
),
tope AS (SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY d, vec_id) AS rn
    FROM ex) WHERE rn <= {TOP_K})
SELECT t.qid,
       CAST(count(a1.vec_id) AS BIGINT) AS n_hits_np1,
       round(count(a1.vec_id) / CAST({TOP_K} AS DOUBLE), 4) AS recall_np1,
       CAST(count(a4.vec_id) AS BIGINT) AS n_hits_np4,
       round(count(a4.vec_id) / CAST({TOP_K} AS DOUBLE), 4) AS recall_np4,
       any_value(counts.n_cand_np1) AS n_cand_np1,
       any_value(counts.n_cand_np4) AS n_cand_np4
FROM tope t
LEFT JOIN top1 a1 ON a1.qid = t.qid AND a1.vec_id = t.vec_id
LEFT JOIN top4 a4 ON a4.qid = t.qid AND a4.vec_id = t.vec_id
JOIN counts ON counts.qid = t.qid
GROUP BY t.qid
"""
)


EXTRA_QUERIES = {
    "kmeans_clusters": q_kmeans_clusters,
    "ann_recall": q_ann_recall,
    "pq_codes": q_pq_codes,
    "pq_adc_probe": q_pq_adc_probe,
    "pq_recall": q_pq_recall,
    "ann_ivfpq_probe": q_ann_ivfpq_probe,
    "ann_ivfpq_multiprobe": q_ann_ivfpq_multiprobe,
}

EXTRA_ORACLES = {
    "kmeans_clusters": _ORACLE_KMEANS,
    "ann_recall": _ORACLE_ANN_RECALL,
    "pq_codes": _ORACLE_PQ_CODES,
    "pq_adc_probe": _ORACLE_PQ_ADC,
    "pq_recall": _ORACLE_PQ_RECALL,
    "ann_ivfpq_probe": _ORACLE_IVFPQ_PROBE,
    "ann_ivfpq_multiprobe": _ORACLE_IVFPQ_MULTIPROBE,
}


QUERIES = {
    "knn_bruteforce": q_knn_bruteforce,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_lsh_probe": q_ann_lsh_probe,
    "ann_ivf_cells": q_ann_ivf_cells,
    "ann_ivf_probe": q_ann_ivf_probe,
    "label_centroid_sizes": q_label_centroid_sizes,
}

ORACLES = {
    "knn_bruteforce": _ORACLE_KNN,
    "ann_lsh_buckets": _ORACLE_ANN_BUCKETS,
    "ann_lsh_probe": _ORACLE_ANN_PROBE,
    "ann_ivf_cells": _ORACLE_IVF_CELLS,
    "ann_ivf_probe": _ORACLE_IVF_PROBE,
    "label_centroid_sizes": _ORACLE_CENTROID,
}


# --- hard-negative mining ---------------------------------------------------
# Contrastive-training data prep: for each anchor embedding, the most
# similar vectors with a DIFFERENT label — the "hard negatives" an
# embedding-model trainer pairs with each anchor so the margin is
# learned where it is tightest. Same panel-broadcast shape as the
# recall harness: anchors broadcast against the corpus, candidates
# ranked with the shared two-level top-K (no single-task corpus sort).
HN_NQ = 8   # anchor panel size (vec_id < HN_NQ)
HN_K = 5    # hard negatives per anchor


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-HN_K different-label neighbors per anchor with their cosine
    (rounded to 6 so both engines agree bit-for-bit after their own
    summation orders): (qid, rank, vec_id, cos). The cosine is the
    training margin signal; ranks tie-break on vec_id."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    qs = emb.filter(F.col("vec_id") < HN_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        _norm("v").alias("qn"),
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        emb.crossJoin(F.broadcast(qs))
        .filter((F.col("vec_id") != F.col("qid")) & (F.col("label") != F.col("qlabel")))
        .select(
            "qid",
            "vec_id",
            F.round(dot / (_norm("v") * F.col("qn")), 6).alias("cos"),
        )
    )
    return _two_level_topk(
        scored,
        F.desc("cos"),
        k=HN_K,
        keep=("qid", "rank", "vec_id", "cos"),
        rank_name="rank",
    )


_ORACLE_HARDNEG = f"""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS qn
      FROM e WHERE vec_id < {HN_NQ}),
scored AS (
  SELECT q.qid, e.vec_id,
         round(list_sum(list_transform(list_zip(e.v, q.qv), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(e.v, x -> x * x))) * q.qn), 6) AS cos
  FROM e CROSS JOIN q
  WHERE e.vec_id != q.qid AND e.label != q.qlabel
)
SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, cos
FROM (SELECT qid, vec_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
      FROM scored)
WHERE rank <= {HN_K}
"""


EXTRA_QUERIES["hard_negatives"] = q_hard_negatives
EXTRA_ORACLES["hard_negatives"] = _ORACLE_HARDNEG


# --- embedding-space decontamination ------------------------------------------
# The semantic twin of decontam_hits (which matches 4-token shingles):
# eval-benchmark CONTAMINATION often survives lexical rewording but not
# embedding distance, so production pipelines run both. The panel is a
# fixed-size external eval table at real scale (~1e5 rows), broadcast to
# every executor; here every DECON_MOD-th vector plays the benchmark,
# capped at DECON_PANEL_MAX. Scoring is the _km_assign_udf shape: one
# BLAS matmul per Arrow batch against the broadcast panel matrix, ONE
# row out per row in (never NQ×P candidate rows), then a map-side-
# combined per-label rollup — flat at 100 TB.
DECON_MOD = 97        # deterministic synthetic stand-in for the eval table
DECON_PANEL_MAX = 64  # eval panels are fixed-size, not corpus-proportional
DECON_TH = 0.3        # same similarity bar as the embedding near-dup


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label contamination report against the eval panel: n_vectors,
    n_contaminated (max panel cosine ≥ DECON_TH), avg/max of the per-
    vector max panel cosine. Cosines round to 6 decimals inside the UDF
    (the hard_negatives precedent) so the BLAS summation order and the
    oracle's list-fold agree bit-for-bit after rounding."""
    emb = load(spark, sf_dir, "embeddings")
    panel_rows = (
        emb.filter((F.col("vec_id") % DECON_MOD) == 0)
        .orderBy("vec_id")
        .limit(DECON_PANEL_MAX)
        .select("vec_id", _as_double("embedding").alias("v"))
        .collect()
    )
    # exclude exactly the PANEL members from the corpus — not the whole
    # vec_id % DECON_MOD stratum: beyond the panel cap those vectors are
    # ordinary corpus rows and MUST be screened (an unscreened stratum
    # would silently pass contaminated vectors at scale)
    panel_ids = [int(r["vec_id"]) for r in panel_rows]
    pmat = np.array([r["v"] for r in panel_rows], dtype=np.float64)
    pnorm = np.sqrt((pmat * pmat).sum(axis=1))

    @F.pandas_udf(T.DoubleType())
    def max_panel_cos(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype="float64")
        x = np.stack(vs.to_numpy()).astype(np.float64)
        cos = (x @ pmat.T) / (
            np.sqrt((x * x).sum(axis=1))[:, None] * pnorm[None, :]
        )
        return pd.Series(np.round(cos, 6).max(axis=1))

    corpus = emb.filter(~F.col("vec_id").isin(panel_ids)).select(
        "label", _as_double("embedding").alias("v")
    )
    scored = corpus.select("label", max_panel_cos("v").alias("mc"))
    return scored.groupBy("label").agg(
        F.count("*").alias("n_vectors"),
        F.sum((F.col("mc") >= DECON_TH).cast("long")).alias("n_contaminated"),
        F.round(F.avg("mc"), 4).alias("avg_max_cos"),
        F.round(F.max("mc"), 6).alias("max_max_cos"),
    )


_ORACLE_DECON = f"""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
p AS (
  SELECT vec_id AS pid, v AS pv,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS pn
  FROM e WHERE vec_id % {DECON_MOD} = 0 ORDER BY vec_id LIMIT {DECON_PANEL_MAX}
),
scored AS (
  SELECT e.vec_id, e.label,
         max(round(list_sum(list_transform(list_zip(e.v, p.pv), q -> q[1] * q[2]))
             / (sqrt(list_sum(list_transform(e.v, x -> x * x))) * p.pn), 6)) AS mc
  FROM e CROSS JOIN p
  WHERE e.vec_id NOT IN (SELECT pid FROM p)
  GROUP BY 1, 2
)
SELECT label, count(*) AS n_vectors,
       CAST(sum(CASE WHEN mc >= {DECON_TH} THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       round(avg(mc), 4) AS avg_max_cos,
       round(max(mc), 6) AS max_max_cos
FROM scored GROUP BY label
"""


EXTRA_QUERIES["semantic_decontam"] = q_semantic_decontam
EXTRA_ORACLES["semantic_decontam"] = _ORACLE_DECON


# --- one-pass covariance (the PCA front end) ---------------------------------
# Training-data pipelines run PCA over embedding corpora for whitening,
# dimensionality reduction before clustering, and drift monitoring. The
# expensive part at 100 TB is the covariance accumulation, and its
# scale-correct Spark shape is the k-means model-update pattern: each
# Arrow batch reduces to ONE d(d+1)/2-triangle of partial moments inside
# a mapInPandas kernel (BLAS x.T @ x), so the corpus never shuffles and
# the only exchange is (pairs x n_batches) moment rows into a (i, j)
# groupBy. The eigendecomposition of the returned d x d matrix is
# driver-side numpy (d is small by construction);
# tests/test_late_round5_ops.py pins the PCA step on this query's output.
COV_ROUND = 6


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle sample covariance of the embedding corpus.

    Output: (i, j, cov) with 1-based dims, i <= j, cov rounded to
    COV_ROUND decimals (cross-engine float-noise kill, the KM_ROUND
    rule). One row per dimension pair — d(d+1)/2 rows total."""
    emb = load(spark, sf_dir, "embeddings")
    out_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("n", T.LongType()),
            T.StructField("sx", T.DoubleType()),
            T.StructField("sy", T.DoubleType()),
            T.StructField("sxy", T.DoubleType()),
        ]
    )

    def _partial_moments(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n, d = x.shape
            g = x.T @ x  # BLAS, one pass
            s = x.sum(axis=0)
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype("int32"),
                    "j": (ju + 1).astype("int32"),
                    "n": np.full(len(iu), n, dtype="int64"),
                    "sx": s[iu],
                    "sy": s[ju],
                    "sxy": g[iu, ju],
                }
            )

    partials = emb.select("embedding").mapInPandas(_partial_moments, out_schema)
    tot = partials.groupBy("i", "j").agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxy").alias("sxy"),
    )
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("n") - 1
    )
    return tot.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        # + 0.0 folds IEEE -0.0 (a legal round() output when the true
        # covariance is a tiny negative) to +0.0 on both engines
        (F.round(cov, COV_ROUND) + F.lit(0.0)).alias("cov"),
    )


_ORACLE_COV = f"""
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
)
SELECT a.i, b.i AS j,
       round((sum(a.v * b.v) - sum(a.v) * sum(b.v) / count(*))
             / (count(*) - 1), {COV_ROUND}) + 0.0 AS cov
FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
GROUP BY 1, 2
"""

EXTRA_QUERIES["embedding_covariance"] = q_embedding_covariance
EXTRA_ORACLES["embedding_covariance"] = _ORACLE_COV


# --- SQ8 scalar quantization (per-dim uint8 codes + ADC probe) ---------------
# The third quantizer family next to PQ (codebook per subspace) and IVF
# (coarse cells): SQ8 stores each dimension as an 8-bit code against
# per-dimension [min, max] trained from the corpus — FAISS
# ScalarQuantizer QT_8bit. 4x smaller than float32 with near-exact
# recall, and the train step is ONE map-side-combined (dim, min, max)
# aggregation (64 groups), not a k-means. The probe is asymmetric:
# integer code differences scaled per dimension, so the distance is a
# deterministic fold over 64 integer-derived terms (rounded before
# ranking, the PQ_ROUND rule).
SQ8_LEVELS = 255


def q_ann_sq8_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K neighbors of QUERY_VEC_ID under SQ8 asymmetric distance.

    Output: (rank, vec_id) — the knn_bruteforce contract, so recall vs
    the exact arm is a join away. Codes: floor((x - mn) / (mx - mn) *
    255) clamped to [0, 255]; flat dims (mx == mn) code to 0 and
    contribute zero distance. Distance: sum_k ((cq_k - cc_k) *
    (mx_k - mn_k) / 255)^2, rounded to 6 before the (dist, vec_id)
    ordering."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    stats = (
        emb.select(F.posexplode("v").alias("k", "x"))
        .groupBy("k")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    packed = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("k", "mn", "mx"))
        ).alias("smm")
    ).select(
        F.transform("smm", lambda s: s["mn"]).alias("mns"),
        F.transform("smm", lambda s: s["mx"]).alias("mxs"),
    )
    # element_at, not [] — Spark [] indexing is 0-based while the
    # 1-based k here mirrors the oracle's generate_subscripts
    code_k = (
        "CASE WHEN element_at(mxs, k) > element_at(mns, k) THEN "
        f"least({SQ8_LEVELS}, greatest(0, "
        "CAST(floor((element_at(v, k) - element_at(mns, k)) "
        "/ (element_at(mxs, k) - element_at(mns, k)) "
        f"* {SQ8_LEVELS}) AS INT))) ELSE 0 END"
    )
    codes_expr = F.expr(
        f"transform(sequence(1, size(v)), k -> {code_k})"
    )
    coded = emb.crossJoin(F.broadcast(packed)).select(
        "vec_id", codes_expr.alias("c"), "mns", "mxs"
    )
    q = coded.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("c").alias("qc")
    )
    d2 = F.expr(
        "round(aggregate(sequence(1, size(c)), CAST(0.0 AS DOUBLE), "
        "(acc, k) -> acc + power("
        "CAST(element_at(c, k) - element_at(qc, k) AS DOUBLE) "
        "* (element_at(mxs, k) - element_at(mns, k)) "
        f"/ {SQ8_LEVELS}, 2)), 6)"
    )
    scored = (
        coded.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", d2.alias("d2"))
    )
    return (
        scored.orderBy("d2", "vec_id")
        .limit(TOP_K)
        .select(
            F.row_number().over(Window.orderBy("d2", "vec_id")).alias("rank"),
            "vec_id",
        )
    )


_ORACLE_SQ8 = f"""
WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS k,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
stats AS (SELECT k, min(v) AS mn, max(v) AS mx FROM x GROUP BY 1),
coded AS (
  SELECT x.vec_id, x.k, stats.mn, stats.mx,
         CASE WHEN stats.mx > stats.mn THEN
           least({SQ8_LEVELS}, greatest(0,
             CAST(floor((x.v - stats.mn) / (stats.mx - stats.mn)
                  * {SQ8_LEVELS}) AS INT)))
         ELSE 0 END AS c
  FROM x JOIN stats USING (k)
),
q AS (SELECT k, c AS qc FROM coded WHERE vec_id = {QUERY_VEC_ID}),
scored AS (
  SELECT coded.vec_id,
         round(sum(power(CAST(coded.c - q.qc AS DOUBLE)
               * (coded.mx - coded.mn) / {SQ8_LEVELS}, 2)), 6) AS d2
  FROM coded JOIN q USING (k)
  WHERE coded.vec_id != {QUERY_VEC_ID}
  GROUP BY 1
)
SELECT row_number() OVER (ORDER BY d2, vec_id) AS rank, vec_id
FROM scored ORDER BY d2, vec_id LIMIT {TOP_K}
"""

EXTRA_QUERIES["ann_sq8_probe"] = q_ann_sq8_probe
EXTRA_ORACLES["ann_sq8_probe"] = _ORACLE_SQ8


# --- Johnson-Lindenstrauss random projection (distortion panel) --------------
# Sign random projection 64 -> RP_DP dims (Achlioptas 2003: +-1 entries
# suffice for the JL guarantee). At 100 TB the projection is the cheap
# part — a row-local matmul against a broadcast d x dp sign matrix, no
# shuffle, one row out per row in; what needs MEASURING is the
# distortion the chosen dp actually inflicts, so the panel reports the
# projected-vs-original distance ratio over all pairs of a fixed
# RP_PANEL-vector sample (statistics-sized self-join). The sign matrix
# derives from md5 so both engines build the identical literal.
RP_DP = 16       # target dimensionality
RP_D = 64        # embeddings-table dimensionality (TESTDATA.md schema)
RP_PANEL = 24    # distortion sample: 24 vectors -> 276 pairs


def _rp_matrix() -> list[list[float]]:
    """RP_D x RP_DP deterministic +-1/sqrt(RP_DP) sign matrix."""
    import hashlib
    import math

    s = 1.0 / math.sqrt(RP_DP)
    return [
        [
            s if int(hashlib.md5(f"rp:{i}:{k}".encode()).hexdigest()[0], 16) % 2 == 0 else -s
            for k in range(RP_DP)
        ]
        for i in range(RP_D)
    ]


def q_rp_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL distortion panel: (a, b, orig_dist, proj_dist, distortion)
    over all RP_PANEL-choose-2 pairs (zero-distance pairs excluded —
    no ratio exists). Distances and the ratio round to 6 decimals."""
    R = _rp_matrix()
    emb = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < RP_PANEL)
        .select("vec_id", _as_double("embedding").alias("v"))
    )
    proj_cols = [
        F.aggregate(
            F.zip_with(
                "v",
                F.array(*[F.lit(R[i][k]) for i in range(RP_D)]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for k in range(RP_DP)
    ]
    pe = emb.select("vec_id", "v", F.array(*proj_cols).alias("y"))
    a, b = pe.alias("a"), pe.alias("b")

    def _dist(ca, cb):
        return F.sqrt(
            F.aggregate(
                F.zip_with(ca, cb, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )

    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("a"),
        F.col("b.vec_id").alias("b"),
        _dist(F.col("a.v"), F.col("b.v")).alias("od"),
        _dist(F.col("a.y"), F.col("b.y")).alias("pd"),
    )
    return pairs.filter(F.col("od") > 0).select(
        "a",
        "b",
        F.round("od", 6).alias("orig_dist"),
        F.round("pd", 6).alias("proj_dist"),
        F.round(F.col("pd") / F.col("od"), 6).alias("distortion"),
    )


def _rp_sql() -> str:
    R = _rp_matrix()
    proj = ", ".join(
        "list_sum(list_transform(list_zip(v, ["
        + ", ".join(repr(R[i][k]) for i in range(RP_D))
        + "]), p -> p[1] * CAST(p[2] AS DOUBLE)))"
        for k in range(RP_DP)
    )
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < {RP_PANEL}
),
pe AS (SELECT vec_id, v, [{proj}] AS y FROM e),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         sqrt(list_sum(list_transform(list_zip(a.v, b.v),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS od,
         sqrt(list_sum(list_transform(list_zip(a.y, b.y),
              p -> (p[1] - p[2]) * (p[1] - p[2])))) AS pd
  FROM pe a JOIN pe b ON a.vec_id < b.vec_id
)
SELECT a, b, round(od, 6) AS orig_dist, round(pd, 6) AS proj_dist,
       round(pd / od, 6) AS distortion
FROM pairs WHERE od > 0
"""


EXTRA_QUERIES["rp_distortion"] = q_rp_distortion
EXTRA_ORACLES["rp_distortion"] = _rp_sql()
