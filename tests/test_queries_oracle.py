"""Driver-contract gate, mirrored locally: every queries() entry must
match its DuckDB oracle (row count + columns + order-insensitive values)
at sf0.001. Rows-only entries must return rows."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

SF_DIR = "/root/testdata/sf0.001"


def test_all_queries_match_oracle(spark):
    from check_oracle import run_checks

    failures = run_checks(spark, SF_DIR)
    assert failures == []


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "kind", "text", "media_ref", "span_order"}


def test_registry_consistency():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    # every registered query is oracle-checked: the media kernels against
    # datagen-ground-truth sidecars (round 3; thumbnails via a
    # generation-time thumb_md5), extract_pipeline against its
    # golden.parquet, and — round 5 — structured_receipts against its
    # generation-time expected-record sidecar (receipts_expected.parquet).
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()
    # registry order is part of the driver contract: the driver reports
    # exactly the FIRST 50 entries, so round 4 rotates the 36 queries
    # that never had a driver row (CORRECTNESS_r03 delta) into slots
    # 3-38, behind the two flagships. The rotation schedule lives in
    # queries._ROUND4_HEAD; this pins that queries() honors it and that
    # the never-reported set is fully inside the reported window.
    import glob
    import json
    import re

    from ocr_service_spark.queries import _ROUND4_HEAD

    names = list(qs)
    assert names[0] == "extract_pipeline"
    assert names[1] == "structured_receipts"
    latest_report = max(
        (
            int(re.search(r"r(\d+)", os.path.basename(p)).group(1))
            for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
        ),
        default=0,
    )
    if latest_report > 3:
        never_reported_r3 = None  # self-maintaining rotation active
    else:
        # round 4: the hand-written schedule is authoritative
        assert names[: len(_ROUND4_HEAD)] == list(_ROUND4_HEAD)
        # r03-delta minus ann_lsh_buckets (demoted late round 4: it holds
        # hash-green r01+r02 rows on stable code, curation_pipeline has
        # no row anywhere — see queries._ROUND4_HEAD)
        never_reported_r3 = {
            "stateful_session_counts", "ann_ivf_cells",
            "pii_scrub_stats", "tfidf_top_terms", "repetition_filter",
            "decontam_hits", "unigram_logprob", "cms_token_counts",
            "dsir_weights", "bpe_merges", "pmi_cooccurrence", "doc_chunks",
            "kmeans_clusters", "ann_recall", "pq_codes", "pq_adc_probe",
            "pq_recall", "ann_ivfpq_probe", "hard_negatives",
            "leakage_safe_split", "semantic_dedup", "bloom_seen_probe",
            "duplicate_passages", "sequence_packing", "source_mixture_weights",
            "streaming_dedup", "stream_stream_join", "quantile_sketch",
            "zorder_locality", "funnel_conversion", "retention_cohorts",
            "psi_drift", "ab_test", "dq_checks", "volume_anomalies",
        }
        assert set(names[2:37]) == never_reported_r3
        # new round-4 operators must also land inside the 50-row window
        assert names.index("ann_ivfpq_multiprobe") < 50
        assert names.index("source_overlap_matrix") < 50
        assert names.index("minhash_lsh_recall") < 50
        assert len(_ROUND4_HEAD) <= 50
    # the general rotation invariant, data-driven: the report window must
    # never WASTE a slot — a query with no clean row in any historical
    # driver CORRECTNESS report may sit outside the first 50 slots only
    # when the window is already saturated with never-reported queries
    # (no previously-green veteran holds a slot while one waits). Holds
    # for both the hand-written round-4 schedule and the self-maintaining
    # rotation; overflow rotates in on the next report.
    reported: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path) as fh:
            reported |= set(json.load(fh))
    stranded = [n for n in names[50:] if n not in reported]
    if stranded:
        # staleness form: everything stranded must be at least as
        # recently verified as the most-recently-verified non-flagship
        # INSIDE the window (never-reported counts as round 0) — the
        # window always holds the weakest verification records
        from ocr_service_spark.queries import _report_history

        history = _report_history()
        history.pop("__latest_round__")
        strand_min = min(history.get(n, 0) for n in stranded)
        window_max = max(history.get(n, 0) for n in names[2:50])
        assert strand_min >= window_max, (
            f"stranded {stranded} (oldest clean round {strand_min}) wait "
            f"outside the window while a slot-holder has a newer clean "
            f"row (round {window_max})"
        )


def _fake_sf_dir(root, name: str, content: bytes) -> str:
    """An sf_dir whose embeddings file only feeds the memo fingerprint
    (size+mtime): rewriting it with another size is a regenerated table."""
    d = root / name
    d.mkdir(exist_ok=True)
    (d / "embeddings.parquet").write_bytes(content)
    return str(d)


def test_similarity_cache_eviction(spark, tmp_path):
    """The stage memo evicts (and unpersists) stale entries for the same
    (appId, sf_dir) when the dataset fingerprint changes, so a sweep
    over regenerated tables never pins a chain of dead persisted frames
    in executor storage (round-3 advice)."""
    from pyspark.sql import functions as F

    from ocr_service_spark.ops import similarity as sim

    sim.clear_similarity_caches()
    ds = _fake_sf_dir(tmp_path, "ds", b"v1")
    df_old = spark.range(4).select(F.col("id")).persist()
    df_old.count()
    assert sim._memo(spark, ds, "pairs", lambda: df_old) is df_old
    _fake_sf_dir(tmp_path, "ds", b"v2-regenerated")
    df_new = spark.range(4).select(F.col("id") * 2)
    assert sim._memo(spark, ds, "pairs", lambda: df_new) is df_new
    assert [(k[1], k[3]) for k in sim._STAGE_MEMO] == [(ds, "pairs")]
    assert not df_old.storageLevel.useMemory  # unpersisted on eviction
    # a different sf_dir under the same app is NOT evicted
    other = _fake_sf_dir(tmp_path, "other", b"v1")
    sim._memo(spark, other, "pairs", lambda: spark.range(2))
    assert len(sim._STAGE_MEMO) == 2
    # an idempotent re-put under the identical key keeps the entry and
    # does not rebuild it
    assert sim._memo(spark, ds, "pairs", lambda: spark.range(9)) is df_new
    assert len(sim._STAGE_MEMO) == 2
    sim.clear_similarity_caches()


def test_clear_similarity_caches_unpersists_every_frame(spark, tmp_path):
    """clear_similarity_caches() empties the memo and unpersists every
    memoised frame, across stages and datasets — a benchmark pass that
    calls it starts cold."""
    from ocr_service_spark.ops import similarity as sim

    sim.clear_similarity_caches()
    frames = []
    for name in ("a", "b"):
        sf_dir = _fake_sf_dir(tmp_path, name, b"v1")
        for stage in ("recall_pairs", "pq_panel"):
            # distinct plans: Spark shares one cache entry per plan
            df = spark.range(len(frames) + 1).persist()
            df.count()
            frames.append(sim._memo(spark, sf_dir, stage, lambda df=df: df))
        sim._memo(spark, sf_dir, "ivf_model", lambda: (4, None, None, None))
    assert len(sim._STAGE_MEMO) == 6
    assert all(df.storageLevel.useMemory for df in frames)
    sim.clear_similarity_caches()
    assert sim._STAGE_MEMO == {}
    assert not any(df.storageLevel.useMemory for df in frames)


def test_ivf_pandas_matches_declarative(spark):
    """The default pandas-UDF argmax assignment and the declarative
    explode×K window-argmax must agree vector-for-vector (the float
    summation orders differ — BLAS matmul vs left-fold — so this pins
    that no assignment flips at oracle scale)."""
    from ocr_service_spark.ops.similarity import _ivf_cells, _ivf_cells_declarative

    fast = {
        r["vec_id"]: r["cid"]
        for r in _ivf_cells(spark, SF_DIR).select("vec_id", "cid").collect()
    }
    slow = {
        r["vec_id"]: r["cid"]
        for r in _ivf_cells_declarative(spark, SF_DIR)
        .select("vec_id", "cid")
        .collect()
    }
    assert fast == slow


def test_set_ops_forms_agree(spark):
    """The 2-exchange flag-aggregation default and the set-operator
    (intersect/subtract) form compute identical counts."""
    from ocr_service_spark.ops.relational import (
        q_user_set_ops,
        q_user_set_ops_operators,
    )

    fast = q_user_set_ops(spark, SF_DIR).collect()[0].asDict()
    ops = q_user_set_ops_operators(spark, SF_DIR).collect()[0].asDict()
    assert fast == ops
