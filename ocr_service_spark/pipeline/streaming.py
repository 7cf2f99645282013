"""Structured Streaming execution of the extraction pipeline.

The same declarative plan as batch `run_extract` — prepare_spans →
kind-routed kernels → ordered reassembly — driven by `readStream` over
the documents table, with the media blob table as the STATIC side of a
stream-static join. This is the live-ingest shape of the engine: new
interleaved documents appear as files (or Iceberg snapshots / Kafka
batches) and extracted span rows stream out continuously.

Differences from batch, all forced by streaming semantics:
- the media branch reads blobs through Arrow batches: ``_media_branch``
  takes the python-direct row-group reader only when the span side is a
  batch frame, because that reader plans against a fixed file listing,
  which is the batch contract — the stream side must stay declarative;
- reassembly (groupBy doc_id + collect_list) is a streaming aggregation;
  documents are assumed complete within one micro-batch (the input is an
  append-only table of finished documents, matching the reference's
  one-job-per-complete-upload semantics — reference
  services/gateway/src/worker/processor.ts:8-115), so the query runs in
  ``update``/``complete`` mode without watermark loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import ExtractConfig
from .extract import run_extract


def run_extract_streaming(
    spark: SparkSession,
    docs_stream: DataFrame,
    media: DataFrame,
    cfg: ExtractConfig | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Build the streaming extraction plan.

    docs_stream — a streaming DataFrame with the documents schema
    (``spark.readStream.schema(s).parquet(dir)`` or any other source);
    media — a static blob table. Returns (output, metrics) streaming/
    static DataFrames; callers attach a sink via ``output.writeStream``.
    """
    return run_extract(spark, docs_stream, media, cfg)


def _staged_docs_stream(
    spark: SparkSession, data_dir: str, n_parts: int = 1
) -> DataFrame:
    """readStream over the documents table (FileStreamSource wants a
    directory — stage the parquet once). With n_parts > 1 the documents
    split deterministically (hash of doc_id) into that many files and
    maxFilesPerTrigger=1 makes each file its own micro-batch — the
    multi-batch arrival shape."""
    import glob
    import os
    import shutil
    import tempfile

    from ..ops.streaming import stage_fingerprint

    src = f"{data_dir}/documents.parquet"
    batch_docs = spark.read.parquet(src)
    stage = os.path.join(
        tempfile.gettempdir(),
        f"stream-docs-{n_parts}-{stage_fingerprint(src)}",
    )
    if not glob.glob(os.path.join(stage, "part-*.parquet")):
        os.makedirs(stage, exist_ok=True)
        if n_parts == 1:
            shutil.copyfile(src, os.path.join(stage, "part-0.parquet"))
        else:
            from pyspark.sql import functions as F

            for i in range(n_parts):
                part = batch_docs.filter(
                    F.pmod(F.xxhash64("doc_id"), F.lit(n_parts)) == i
                ).coalesce(1)
                tmp = stage + f"-w{i}"
                part.write.mode("overwrite").parquet(tmp)
                shutil.copyfile(
                    glob.glob(tmp + "/part-*.parquet")[0],
                    os.path.join(stage, f"part-{i}.parquet"),
                )
    reader = spark.readStream.schema(batch_docs.schema)
    if n_parts > 1:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(stage)


def extract_stream_to_files(
    spark: SparkSession,
    data_dir: str,
    out_dir: str,
    cfg: ExtractConfig | None = None,
    n_buckets: int = 64,
    n_batches: int = 1,
) -> None:
    """PRODUCTION streaming sink: readStream over the documents table →
    ``foreachBatch`` running the full BATCH extraction plan per
    micro-batch → bucketed parquet, idempotently.

    Why foreachBatch instead of a streaming aggregation + file sink: the
    input is an append-only table of COMPLETE documents (the reference's
    one-job-per-finished-upload semantics, worker/processor.ts:8-115),
    so each micro-batch is a self-contained batch job — ordered span
    reassembly needs no cross-batch state, only the blobs the batch
    references are extracted, and nothing is ever collected to the driver (the
    memory-sink drain in extract_stream_to_memory / ops.streaming is a
    test-and-oracle harness only).

    Exactly-once: output partitions by (batch_id, bucket) with dynamic
    partition overwrite — a replayed micro-batch (after a crash, from
    the streaming checkpoint) rewrites ONLY its own batch_id partitions,
    byte-identically. The streaming checkpoint under
    ``{out_dir}/_stream_checkpoint`` tracks consumed source files."""
    from pyspark.sql import functions as F

    from .checkpoint import bucket_expr
    from .extract import release_persisted

    cfg = cfg or ExtractConfig()
    media = spark.read.parquet(f"{data_dir}/media.parquet")
    docs_stream = _staged_docs_stream(spark, data_dir, n_parts=n_batches)
    out_path = f"{out_dir}/extracted"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # only OCR the blobs THIS batch references: without the semi-join
        # every micro-batch would extract the full static media table and
        # discard the unmatched rows in the span join — n batches × full-
        # corpus OCR. The broadcast semi-join prunes the blob scan to the
        # batch's refs (at catalog scale the same predicate pushes into
        # the Iceberg scan); the media frame stops being a bare file scan,
        # so the branch takes the declarative Arrow path per batch.
        refs = (
            batch_df.select(F.explode("spans").alias("s"))
            .select(F.col("s.media_ref").alias("media_ref"))
            .filter(F.col("media_ref").isNotNull())
            .distinct()
        )
        batch_media = media.join(F.broadcast(refs), "media_ref", "left_semi")
        output, _metrics = run_extract(spark, batch_df, batch_media, cfg)
        (
            output.withColumn("batch_id", F.lit(batch_id))
            .withColumn("bucket", bucket_expr(n_buckets))
            # write-scoped dynamic overwrite: foreachBatch runs in a
            # CLONED session, so a session-level conf set here would not
            # reach the writer — the option always does. Static mode
            # would wipe earlier batches' partitions on every write.
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "bucket")
            .parquet(out_path)
        )
        release_persisted()

    q = (
        docs_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", f"{out_dir}/_stream_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_stream_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the file-sink output back in the batch output shape."""
    return spark.read.parquet(f"{out_dir}/extracted").drop("batch_id", "bucket")


def extract_stream_to_memory(
    spark: SparkSession,
    data_dir: str,
    query_name: str = "extract_stream_sink",
    cfg: ExtractConfig | None = None,
) -> DataFrame:
    """TEST/demo runner (memory sink is driver-resident — production
    runs go through ``extract_stream_to_files``): stream the documents
    table through the pipeline into a memory sink, drain synchronously,
    and return the materialized result (one row per document, same shape
    as batch)."""
    docs_stream = _staged_docs_stream(spark, data_dir)
    media = spark.read.parquet(f"{data_dir}/media.parquet")
    output, _metrics = run_extract_streaming(spark, docs_stream, media, cfg)
    q = (
        output.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    result = spark.sql(f"SELECT * FROM {query_name}")
    # materialize before the sink's table goes away
    return spark.createDataFrame(result.collect(), result.schema)
