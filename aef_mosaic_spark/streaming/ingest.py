"""Incremental mosaic ingestion (streaming tile arrival).

The reference reruns the whole bounded pipeline with checkpoint-resume
when new COGs land. The Spark-native unbounded design splits the
compositor into its associative half and a compaction:

  image stream --readStream--> reproject to PATCH rows (stateless,
  mapInPandas works in streaming) --foreachBatch--> append to an
  icelite `patches` table, one snapshot per microbatch.

Exactly-once: foreachBatch alone is at-least-once (a crash after the
snapshot commit but before the stream checkpoint records the batch
replays the microbatch), so the sink is IDEMPOTENT on batch_id — every
snapshot records its batch_id in the summary, and a replayed batch_id
whose snapshot already exists in the chain is skipped. Stream
checkpoint (no replays lost) + atomic snapshot commit (no partial
appends) + batch_id dedup (no double appends) = exactly-once.

  compact_chunks(): composite the accumulated patch table into chunk
  rows on demand — the compositors are order-independent over patches,
  so the result equals the one-shot batch mosaic whatever the
  microbatch split.

This keeps per-microbatch work O(new tiles) while preserving
bit-exact parity with the one-shot batch mosaic (test-verified).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from aef_mosaic_spark.generator import IMAGE_SCHEMA
from aef_mosaic_spark.grid import OutputGrid
from aef_mosaic_spark.operators import mosaic as M
from aef_mosaic_spark.sources.icelite import Icelite


def read_image_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(IMAGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def applied_batch_ids(table: Icelite) -> set:
    """batch_ids already committed into the snapshot chain."""
    if not table.exists():
        return set()
    return {h["summary"]["batch_id"] for h in table.history()
            if "batch_id" in h["summary"]}


def make_patch_sink(table: Icelite, grid: OutputGrid):
    """foreachBatch sink: reproject the microbatch to patch rows and
    append ONE snapshot, skipping batch_ids already in the chain
    (idempotent under microbatch replay — see module docstring)."""
    def _sink(batch_df: DataFrame, batch_id: int):
        if batch_id in applied_batch_ids(table):
            return  # replayed after crash-before-checkpoint: committed
        table.append(
            M.reproject_patches(batch_df, grid),
            partition_by=["time_idx"],
            summary={"operation": "stream-patches", "batch_id": batch_id},
        )

    return _sink


def stream_patches_to_table(images_stream: DataFrame, grid: OutputGrid,
                            table_path: str, checkpoint_dir: str,
                            timeout_s: int = 300):
    """Run the stateless prefix (the reproject_patches kernel: grid
    bounds, chunk ranges, decode-once patch reprojection) on the
    stream; each microbatch commits one icelite snapshot of patch
    rows. If the stream has not drained within timeout_s, stops the
    query and raises TimeoutError (snapshots already committed stay
    in the table)."""
    table = Icelite(table_path)
    _sink = make_patch_sink(table, grid)

    q = (
        images_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"patch stream into {table_path} did not drain in {timeout_s} s")
    return table


def compact_chunks(spark: SparkSession, patches_table: str, grid: OutputGrid,
                   mode: str = "mean") -> DataFrame:
    """Composite the accumulated patch table into chunk rows."""
    patches = Icelite(patches_table).read(spark)
    return M.composite_chunks(patches, grid, mode=mode)
