"""One benchmark run in one process: set up Spark, run the workload for
the requested seconds, check every output, and print one JSON line.

Started by run.py, which prepares the inputs, sets the environment
(cores, heap, PYTHONPATH) and samples the process tree's memory. With
--trace 1 the run adds a traced pass between untraced ones and reports
per-layer metrics instead of end-to-end ones.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import tracing  # noqa: E402

KERNEL_SAMPLE_BLOBS = 48
KERNEL_SAMPLE_SPANS = 300
now = time.perf_counter


# --------------------------------------------------------------------------
# session set-up
# --------------------------------------------------------------------------

def _import_kernels(batches):
    import ocr_service_spark.kernels.media  # noqa: F401

    yield from batches


def _warm_workers(spark) -> None:
    """Start one python worker per core, each with the program's kernel
    modules imported."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).mapInPandas(_import_kernels, "id long").count()


def set_up() -> tuple[object, dict]:
    """get_spark (which launches the JVM, as a user's one-shot job does)
    plus the worker warm-up."""
    from ocr_service_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    t0 = now()
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    t1 = now()
    _warm_workers(spark)
    t2 = now()
    return spark, {"start_s": t1 - t0, "warmup_s": t2 - t1}


# --------------------------------------------------------------------------
# extraction
# --------------------------------------------------------------------------

def _seq(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]


class Extraction:
    def __init__(self, spark, cfg: dict, data_dir: str) -> None:
        self.spark = spark
        self.cfg = cfg
        self.data_dir = data_dir
        golden = pq.read_table(os.path.join(data_dir, "golden.parquet")).to_pylist()
        self.golden = {r["doc_id"]: _seq(r["spans"]) for r in golden}
        docs = pq.read_table(os.path.join(data_dir, "documents.parquet")).to_pylist()
        self.referenced = len(
            {s["media_ref"] for d in docs for s in d["spans"] if s["kind"] == "media"}
        )
        self.docs = docs

    def run_once(self, rep: int) -> dict:
        from ocr_service_spark.config import ExtractConfig
        from ocr_service_spark.pipeline.checkpoint import run_resumable
        from ocr_service_spark.pipeline.extract import load_inputs

        out = os.path.join(WORK, f"out{rep}")
        shutil.rmtree(out, ignore_errors=True)
        run_id = f"perfbench-{rep}"
        t0 = now()
        docs, media = load_inputs(self.spark, self.data_dir)
        res = run_resumable(
            self.spark, docs, media, out, ExtractConfig(run_id=run_id),
            n_buckets=self.cfg["n_buckets"],
        )
        wall = now() - t0
        rec = {"wall_s": wall, "result": res, **self.check(out, run_id)}
        shutil.rmtree(out, ignore_errors=True)
        rec["docs"] = rec["docs_written"]
        rec["attempted"] = rec["docs_checked"]
        rec["failed"] = rec["incorrect_outputs"]
        return rec

    def check(self, out: str, run_id: str) -> dict:
        """Whole-table comparison with golden.parquet (null-safe tuple
        equality), duplicate doc_ids and media_refs, and this run's
        lineage and metrics rows."""
        got: dict[str, list] = {}
        dups = 0
        for r in pq.read_table(os.path.join(out, "extracted")).to_pylist():
            dups += r["doc_id"] in got
            got[r["doc_id"]] = _seq(r["spans"])
        refs = pq.read_table(
            os.path.join(out, "recognitions"), columns=["media_ref", "status"]
        ).to_pydict()
        incorrect = dups + len(set(got) - set(self.golden))
        incorrect += sum(got.get(d) != seq for d, seq in self.golden.items())
        incorrect += len(refs["media_ref"]) - len(set(refs["media_ref"]))
        lineage = [
            r for r in pq.read_table(os.path.join(out, "_checkpoint")).to_pylist()
            if r["run_id"] == run_id
        ]
        metrics = [
            r for r in pq.read_table(os.path.join(out, "_metrics")).to_pylist()
            if r["run_id"] == run_id
        ]
        files = [
            os.path.join(d, f)
            for d, _, fs in os.walk(out)
            for f in fs
            if f.endswith(".parquet")
        ]
        return {
            "docs_checked": len(self.golden),
            "incorrect_outputs": incorrect,
            "media_spans": len(refs["media_ref"]),
            "failed_spans": sum(s != "completed" for s in refs["status"]),
            "docs_written": sum(r["docs"] for r in lineage),
            "ocr_chars": sum(r["ocr_chars"] for r in lineage),
            "blobs_decoded": sum(r["n_blobs"] or 0 for r in metrics),
            "files_written": len(files),
            "bytes_written": sum(os.path.getsize(f) for f in files),
        }

    def traced(self, rep: int) -> dict:
        from pyspark.sql.readwriter import DataFrameWriter

        from ocr_service_spark.pipeline import checkpoint, extract

        tracer = tracing.Tracer()
        store = tracing.StatusStore(self.spark)
        s0, j0 = store.max_stage_id(), store.max_job_id()
        tracer.patch(extract, "load_inputs", "pipeline.load_inputs")
        tracer.patch(checkpoint, "run_resumable", "pipeline.run_resumable")
        tracer.patch(checkpoint, "run_extract", "extract.plan")
        tracer.patch(
            DataFrameWriter, "parquet", "checkpoint.write",
            attrs_of=lambda _self, path, *a, **k: {"path": os.path.basename(path)},
        )
        try:
            with tracer.span("pass") as top:
                r = self.run_once(rep)
        finally:
            tracer.close()
        stages = store.stages(after=s0, tasks=True)
        jobs = store.jobs(after=j0)
        tracer.add_spark(jobs, stages, parent=top["id"])
        writes = {}
        for s in tracer.named("checkpoint.write"):
            writes[s["path"]] = writes.get(s["path"], 0.0) + tracer.duration(s)
        res = r["result"]
        m = {
            "extract.ocr_chars_per_s": r["ocr_chars"] / r["wall_s"],
            "extract.plan_s": sum(tracer.duration(s) for s in tracer.named("extract.plan")),
            "extract.media_bins": res.get("ocr_partitions") or 0,
            "extract.media_partition_balance": res.get("ocr_partition_balance") or 0.0,
            "extract.blobs_decoded": r["blobs_decoded"],
            "extract.decode_useful_ratio": self.referenced / max(r["blobs_decoded"], 1),
            "extract.failed_span_share": r["failed_spans"] / max(r["media_spans"], 1),
            "checkpoint.output_write_s": writes.get("extracted", 0.0),
            "checkpoint.lineage_s": writes.get("_checkpoint", 0.0),
            "checkpoint.recognitions_s": writes.get("recognitions", 0.0),
            "checkpoint.metrics_s": writes.get("_metrics", 0.0),
            "checkpoint.files_written": r["files_written"],
            "checkpoint.bytes_written": r["bytes_written"],
            "checkpoint.pending_buckets": res.get("processed_buckets", 0),
            **tracing.spark_layer(stages, len(jobs)),
        }
        m.update(kernel_pass(tracer, self.data_dir, self.docs))
        return {"metrics": m, "rep": r, "spans": tracer.spans}


# the stage functions extract_media_span calls, by the stage they belong to
def _kernel_stages():
    from ocr_service_spark.kernels import align, colorspace, imageops, neural
    from ocr_service_spark.kernels import media as km

    return {
        "decode": [(km, "validate_media"), (km, "decode_simg"),
                   (km, "decode_real_image_any"), (imageops, "downscale_max_side")],
        "neural": [(neural, "detect_corners")],
        "classic": [(imageops, "invert_if_dark"), (align, "classic_align_corners"),
                    (colorspace, "invert_if_dark_color"),
                    (colorspace, "preprocess_illumination_color")],
        "bbox": [(imageops, "mask_bbox_corners")],
        "warp": [(imageops, "warp_perspective"), (imageops, "order_corners")],
        "binarize": [(imageops, "preprocess_for_ocr")],
        "qr": [(km, "try_qr"), (km, "try_qr_real")],
        "cascade": [(km, "run_cascade")],
    }


def kernel_pass(tracer: tracing.Tracer, data_dir: str, docs: list[dict]) -> dict:
    """Single-thread pass in the Spark driver process over the first
    blobs and textual spans of the corpus, every kernel stage traced."""
    from ocr_service_spark.config import ExtractConfig
    from ocr_service_spark.kernels import html, pdf, text
    from ocr_service_spark.kernels.media import extract_media_span

    cfg = ExtractConfig()
    blobs = pq.read_table(
        os.path.join(data_dir, "media.parquet"), columns=["content"]
    ).column("content").to_pylist()[:KERNEL_SAMPLE_BLOBS]
    stages = _kernel_stages()
    for stage, targets in stages.items():
        for owner, attr in targets:
            tracer.patch(owner, attr, f"kernels.media.{stage}")
    try:
        for blob in blobs:
            with tracer.span("kernels.media.blob"):
                extract_media_span(
                    blob, cfg.confidence_low, cfg.accepted_qr_formats,
                    aggressive=cfg.aggressive, timeout_s=cfg.kernel_timeout_s,
                    warp_interp=cfg.warp_interp, alignment_mode=cfg.alignment_mode,
                )
    finally:
        tracer.close()

    own = tracer.self_times()
    n = max(len(blobs), 1)
    m: dict[str, float] = {}
    stage_total = dict.fromkeys(stages, 0.0)
    paths = {"neural": 0, "classic": 0, "bbox": 0}
    neural_tries = 0
    blob_ms: list[float] = []
    blob_ids = [s["id"] for s in tracer.spans if s["name"] == "kernels.media.blob"]
    for i, bid in enumerate(blob_ids):
        blob_ms.append(tracer.duration(tracer.spans[bid]) * 1000.0)
        inner = tracer.spans[bid + 1 : blob_ids[i + 1] if i + 1 < len(blob_ids) else None]
        names = {s["name"].rsplit(".", 1)[1] for s in inner}
        for s in inner:
            stage_total[s["name"].rsplit(".", 1)[1]] += own[s["id"]] * 1000.0
        neural_tries += "neural" in names
        path = "bbox" if "bbox" in names else "classic" if "classic" in names else "neural"
        paths[path] += 1
    blob_ms.sort()
    m["kernels.media.blob_ms_p50"] = statistics.median(blob_ms) if blob_ms else 0.0
    m["kernels.media.blob_ms_p90"] = blob_ms[int(0.9 * (len(blob_ms) - 1))] if blob_ms else 0.0
    for stage, total in stage_total.items():
        m[f"kernels.media.{stage}_ms"] = total / n
    m["kernels.media.stage_sum_ms"] = sum(stage_total.values()) / n
    m["kernels.media.blob_ms_mean"] = sum(blob_ms) / n
    m["kernels.media.stage_coverage"] = sum(stage_total.values()) / max(sum(blob_ms), 1e-9)
    for path, count in paths.items():
        m[f"kernels.media.path_{path}"] = count
    m["kernels.media.neural_accept_ratio"] = paths["neural"] / max(neural_tries, 1)

    kernels = {"text": text.normalize_text, "html": html.strip_boilerplate,
               "pdf": pdf.reconstruct_reading_order}
    spans = [s for d in docs for s in d["spans"] if s["kind"] in kernels][:KERNEL_SAMPLE_SPANS]
    for kind, fn in kernels.items():
        mine = [s["text"] for s in spans if s["kind"] == kind]
        with tracer.span(f"kernels.{kind}.spans", n=len(mine)) as sp:
            for t in mine:
                fn(t)
        m[f"kernels.{kind}.span_ms"] = tracer.duration(sp) * 1000.0 / max(len(mine), 1)
    return m


# --------------------------------------------------------------------------
# catalog
# --------------------------------------------------------------------------

class Catalog:
    def __init__(self, spark, cfg: dict, data_dir: str) -> None:
        from ocr_service_spark.ops import dedup
        from ocr_service_spark.queries import queries

        self.spark = spark
        self.names = cfg["queries"]
        self.data_dir = data_dir
        self.n_docs = pq.read_metadata(os.path.join(data_dir, "documents.parquet")).num_rows
        registry = queries()
        self.fns = {n: registry[n] for n in self.names}
        self.module = {n: "dedup" if n in {**dedup.QUERIES, **dedup.EXTRA_QUERIES}
                       else "similarity" for n in self.names}
        self.expected = {
            n: corpus.load_oracle_result(data_dir, n, sql)
            for n, sql in corpus.catalog_oracles(self.names).items()
        }

    def run_once(self, rep: int, tracer: tracing.Tracer | None = None) -> dict:
        from ocr_service_spark.ops.similarity import clear_similarity_caches

        walls, results, failed = {}, {}, 0
        t0 = now()
        for n in self.names:
            q0 = now()
            try:
                with tracer.span(f"ops.{n}") if tracer else contextlib.nullcontext():
                    df = self.fns[n](self.spark, self.data_dir)
                    results[n] = (df.columns, df.collect())
            except Exception as exc:  # a query that raises counts as failed
                print(f"query {n} raised: {exc!r}", file=sys.stderr)
                failed += 1
                continue
            walls[n] = now() - q0
        wall = now() - t0
        incorrect = 0
        for n, (cols, rows) in results.items():
            if corpus.result_key(cols, [tuple(r) for r in rows]) != self.expected[n]:
                print(f"query {n}: rows differ from the DuckDB oracle", file=sys.stderr)
                incorrect += 1
        # the module caches would make the next pass warm
        clear_similarity_caches()
        return {"wall_s": wall, "query_s": walls, "docs": self.n_docs,
                "attempted": len(self.names), "failed": failed + incorrect,
                "incorrect_outputs": incorrect}

    def traced(self, rep: int) -> dict:
        tracer = tracing.Tracer()
        store = tracing.StatusStore(self.spark)
        s0, j0 = store.max_stage_id(), store.max_job_id()
        with tracer.span("pass") as top:
            r = self.run_once(rep, tracer)
        stages = store.stages(after=s0)
        jobs = store.jobs(after=j0)
        tracer.add_spark(jobs, stages, parent=top["id"])
        m = {f"ops.{n}.wall_s": tracer.duration(tracer.named(f"ops.{n}")[0])
             if tracer.named(f"ops.{n}") else 0.0 for n in self.names}
        for mod in ("dedup", "similarity"):
            m[f"ops.{mod}.wall_s"] = sum(
                m[f"ops.{n}.wall_s"] for n in self.names if self.module[n] == mod
            )
        sp = tracing.spark_layer(stages, len(jobs))
        m["ops.shuffle_write_bytes"] = sp["spark.shuffle_write_bytes"]
        m["ops.spill_bytes"] = sp["spark.spill_bytes"]
        m["ops.gc_s"] = sp["spark.gc_s"]
        m.update(sp)
        return {"metrics": m, "rep": r, "spans": tracer.spans}


# --------------------------------------------------------------------------

def per_layer_names() -> list[str]:
    """Every per-layer metric, for both workloads (a layer a workload
    does not exercise reports 0)."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)["per_layer"]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(corpus.WORKLOADS))
    ap.add_argument("--data-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    cfg = corpus.WORKLOADS[args.workload]

    spark, setup = set_up()
    kind = Extraction if cfg["kind"] == "extract" else Catalog
    work = kind(spark, cfg, args.data_dir)

    # passes until the next would overrun --seconds (at least one)
    reps: list[dict] = []
    begin = now()
    while True:
        reps.append(work.run_once(len(reps)))
        spent = now() - begin
        if spent + reps[-1]["wall_s"] > args.seconds:
            break
    e2e = {
        "wall_s": statistics.median(r["wall_s"] for r in reps),
        "docs_per_s": statistics.median(r["docs"] / r["wall_s"] for r in reps),
        "setup_s": setup["start_s"] + setup["warmup_s"],
    }
    out = {
        "setup": setup,
        "passes": [{k: v for k, v in r.items() if k != "result"} for r in reps],
    }
    if args.trace:
        # passes get faster as the JVM warms: the overhead compares the
        # traced pass with the mean of the untraced passes around it
        if len(reps) < 2:
            reps.append(work.run_once(len(reps)))
        t = work.traced(len(reps))
        reps.append(t["rep"])
        reps.append(work.run_once(len(reps)))
        overhead = t["rep"]["wall_s"] - (reps[-3]["wall_s"] + reps[-1]["wall_s"]) / 2
        layer = {
            "trace.overhead_s": overhead,
            "session.start_s": setup["start_s"],
            "session.warmup_s": setup["warmup_s"],
            **t["metrics"],
        }
        names = per_layer_names()
        metrics = {n: float(layer.get(n, 0.0)) for n in names}
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, f"trace-{args.workload}.json"), "w") as fh:
            json.dump({"spans": t["spans"], "layer": layer}, fh)
    else:
        metrics = e2e
    out.update(
        metrics=metrics,
        attempted=sum(r["attempted"] for r in reps),
        failed=sum(r["failed"] for r in reps),
        incorrect_outputs=sum(r["incorrect_outputs"] for r in reps),
    )
    spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
