"""Cost-aware salted repartitioning for the media (OCR) stage.

The reference has no skew handling (its queue randomizes order —
SURVEY.md §4); at 10^12-doc scale, media-heavy documents (1% of docs can
hold ~30% of media bytes, FIXTURES.md §1) would straggle an OCR stage
partitioned by doc. Strategy, per the north rule "salted repartitioning
by estimated decode cost":

1. estimate per-row decode cost = blob byte size (decode + warp +
   binarize are all ~linear in pixels ≈ bytes for raw-gray blobs);
2. pick the partition count from total cost / TARGET_BYTES_PER_TASK so a
   task's expected cost is bounded regardless of scale factor;
3. salt rows uniformly (the Arrow source of the media branch hash-
   partitions by media_ref — stable, key-independent) so heavy blobs
   scatter instead of hashing to the partition of their parent doc.

AQE (skewJoin + coalescePartitions) stays on as the runtime backstop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..config import TARGET_BYTES_PER_TASK


def cost_partition_count(
    media: DataFrame,
    size_col: str = "file_size",
    min_partitions: int = 8,
    max_partitions: int = 4096,
    target_bytes_per_task: int = TARGET_BYTES_PER_TASK,
) -> int:
    """Partition count for the media stage from total estimated decode
    cost. The sizing aggregate scans only the int size column (pruned —
    blob bytes are never read), so it is cheap at any scale."""
    total = media.agg(F.sum(size_col).alias("b")).collect()[0]["b"] or 0
    cluster_par = media.sparkSession.sparkContext.defaultParallelism
    lo = max(min_partitions, cluster_par)
    return int(min(max_partitions, max(lo, (total // target_bytes_per_task) + 1)))

