"""Benchmark inputs, generated from the workload seed and cached.

Every input is a pure function of its key, so a cache directory that
exists is valid: it is built under a temporary name and renamed into
place only when complete. Cached inputs live in ``perfbench/.cache``,
never in the repo's own ``.data`` directories.

- Extraction corpus: the ``ocr_service_spark.datagen`` command run as
  SHARDS independent shards in parallel processes (datagen computes the
  golden output single-threaded, which would otherwise dominate the
  run's preparation). Plain subprocesses, each waited for: a
  multiprocessing pool would leave its resource-tracker process running
  until this process exits. Each table is a directory of one parquet file per
  shard, the layout of a production table; the media table gets its
  split manifest like datagen's own output.
- Catalog tables: ``documents`` and ``embeddings`` of the sf test
  tables (TESTDATA.md), copied into ``perfbench/data`` so the benchmark
  reads nothing outside its checkout. They are fixed: every seed reads
  the same tables. Each query's DuckDB oracle result is computed here,
  once, so the measured process never runs DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

# Workload sizes. Every run is a fresh process that pays ~15 s of JVM
# start and python-worker warm-up on a 4-core host; each workload is
# sized to a first (cold) pass of 20-30 s so a run stays under a minute.
WORKLOADS = {
    # many small documents: Spark plumbing (split planning, join,
    # reassembly, four output writes) has its largest share here, next to
    # the stand-in CNN in the media kernel
    "extract_s1": {"kind": "extract", "n_docs": 200, "media_scale": 1, "n_buckets": 64},
    # the ops layer: MinHash-band and LSH candidate-edge builds and the
    # IVF / PQ model caches, in the headline order (builds before probes)
    "catalog_neardup": {
        "kind": "catalog",
        "tables": os.path.join(HERE, "data", "sf0.1"),
        "queries": [
            "minhash_lsh_buckets",
            "embedding_neardup",
            "ann_ivf_cells",
            "ann_ivf_probe",
            "semantic_dedup",
            "pq_codes",
            "pq_adc_probe",
            "pq_recall",
            "ann_ivfpq_probe",
            "neardup_triangles",
        ],
    },
}

# fixed, so the corpus for a seed does not depend on the host's core count
SHARDS = 4
TABLES = ("documents", "media", "golden")


def _build_atomically(final: str, build) -> str:
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        os.rename(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _generate_shards(jobs: list[tuple[str, int, int, int]], procs: int) -> None:
    """Run datagen for each (out_dir, n_docs, seed, media_scale), at most
    procs at a time; every process started is waited for, also on error."""
    root = os.path.dirname(HERE)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    todo, running = list(jobs), []
    try:
        while todo or running:
            while todo and len(running) < procs:
                out_dir, n_docs, seed, media_scale = todo.pop(0)
                running.append(subprocess.Popen(
                    [sys.executable, "-m", "ocr_service_spark.datagen", out_dir,
                     "--n-docs", str(n_docs), "--seed", str(seed),
                     "--media-scale", str(media_scale)],
                    cwd=root, env=env, stdout=subprocess.DEVNULL,
                ))
            proc = running.pop(0)
            if proc.wait() != 0:
                raise RuntimeError(f"datagen exited with {proc.returncode}: {proc.args}")
    finally:
        for proc in running:
            proc.kill()
            proc.wait()


def extraction_corpus(n_docs: int, media_scale: int, seed: int, procs: int) -> str:
    """Directory holding documents/media/golden tables for (n_docs,
    media_scale, seed)."""
    final = os.path.join(CACHE, f"extract-n{n_docs}-m{media_scale}-seed{seed}")

    def build(tmp: str) -> None:
        from ocr_service_spark.pipeline.extract import write_split_manifest

        sizes = [n_docs // SHARDS + (i < n_docs % SHARDS) for i in range(SHARDS)]
        jobs = [
            (os.path.join(tmp, f"shard{i}"), sizes[i], seed * SHARDS + i, media_scale)
            for i in range(SHARDS)
        ]
        _generate_shards(jobs, min(procs, SHARDS))
        for t in TABLES:
            os.makedirs(os.path.join(tmp, f"{t}.parquet"))
        for i, (shard, *_rest) in enumerate(jobs):
            for t in TABLES:
                os.rename(
                    os.path.join(shard, f"{t}.parquet"),
                    os.path.join(tmp, f"{t}.parquet", f"part-{i}.parquet"),
                )
            shutil.rmtree(shard)
        write_split_manifest(os.path.join(tmp, "media.parquet"))

    return _build_atomically(final, build)


def inputs(cfg: dict, seed: int, procs: int) -> str:
    """Input directory of a workload for a seed; for the catalog it also
    holds each query's expected result (oracle_file)."""
    if cfg["kind"] == "extract":
        return extraction_corpus(cfg["n_docs"], cfg["media_scale"], seed, procs)
    data_dir = cfg["tables"]
    for name, sql in catalog_oracles(cfg["queries"]).items():
        _oracle_result(data_dir, name, sql)
    return data_dir


def catalog_oracles(names: list[str]) -> dict[str, str]:
    """The DuckDB oracle SQL of the catalog queries, as queries.oracle_sql()
    merges it from ops/dedup.py and ops/similarity.py (oracle_sql() itself
    would also generate the repo's media fixtures under .data)."""
    from ocr_service_spark.ops import dedup, similarity

    oracles = {**dedup.ORACLES, **dedup.EXTRA_ORACLES,
               **similarity.ORACLES, **similarity.EXTRA_ORACLES}
    return {n: oracles[n] for n in names}


def result_key(cols: list[str], rows: list[tuple]) -> tuple:
    """(sorted columns, row count, row multiset) of a query result, rows
    normalized by tools/check_oracle.rows_key."""
    from tools.check_oracle import rows_key

    return sorted(cols), len(rows), rows_key(cols, rows)


def oracle_file(data_dir: str, name: str, sql: str) -> str:
    """Cache file of a query's oracle result, keyed by the SQL and the
    table files."""
    digest = hashlib.sha1(sql.encode())
    for t in ("documents", "embeddings"):
        with open(os.path.join(data_dir, f"{t}.parquet"), "rb") as fh:
            digest.update(fh.read())
    os.makedirs(CACHE, exist_ok=True)
    return os.path.join(CACHE, f"expected-{name}-{digest.hexdigest()[:16]}.json")


def _oracle_result(data_dir: str, name: str, sql: str) -> None:
    """Run the oracle in DuckDB once (some take seconds) and store its
    result_key."""
    import duckdb

    path = oracle_file(data_dir, name, sql)
    if os.path.exists(path):
        return
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        table = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table}')")
    ddf = con.execute(sql).fetchdf()
    con.close()
    cols, n, key = result_key(list(ddf.columns), list(ddf.itertuples(index=False, name=None)))
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump([cols, n, [[list(k), c] for k, c in key.items()]], fh)
    os.replace(tmp, path)


def load_oracle_result(data_dir: str, name: str, sql: str) -> tuple:
    with open(oracle_file(data_dir, name, sql)) as fh:
        cols, n, rows = json.load(fh)
    return cols, n, Counter({tuple(k): c for k, c in rows})

