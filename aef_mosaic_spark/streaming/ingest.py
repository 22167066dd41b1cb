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

  compact_chunks(): composite all patches per chunk key on demand —
  mean/last/weighted are associative over patches, so late tiles only
  re-touch the chunks they overlap.

This keeps per-microbatch work O(new tiles) while preserving
bit-exact parity with the one-shot batch mosaic (test-verified).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    rows."""
    table = Icelite(table_path)
    _sink = make_patch_sink(table, grid)

    q = (
        images_stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return table


def compact_chunks(spark: SparkSession, patches_table: str, grid: OutputGrid,
                   mode: str = "mean") -> DataFrame:
    """Composite the accumulated patch table into chunk rows."""
    patches = Icelite(patches_table).read(spark)
    return M.composite_chunks(patches, grid, mode=mode)


def refresh_chunks(spark: SparkSession, patches_table: str, chunks_table: str,
                   grid: OutputGrid, mode: str = "mean") -> dict:
    """Incremental materialized-view maintenance of the chunk table:
    recomposite ONLY chunks touched by patch snapshots committed since
    the last refresh (late tiles re-touch the chunks they overlap,
    nothing else — the streaming analog of the batch resume anti-join).

    Mechanics: the chunk table's `compacted_through` property records
    the last patch snapshot folded in. A refresh reads only the NEWER
    patch manifests to find touched chunk keys, recomposites those keys
    from the FULL patch history (compositors are associative over
    patches, so this equals a from-scratch composite for those keys),
    and appends the new chunk versions stamped with `updated_snap`.
    `latest_chunks` resolves each key to its newest version.
    """
    pt = Icelite(patches_table)
    ct = Icelite(chunks_table)
    latest = pt.current_snapshot_id() or 0
    done_through = int(ct.properties().get("compacted_through", 0)) \
        if ct.exists() else 0
    if latest <= done_through:
        return {"refreshed_chunks": 0, "compacted_through": done_through}
    snap = pt.snapshot()
    new_files = []
    for m in snap["manifests"]:
        man = json.loads(open(os.path.join(pt.meta, m)).read())
        if man["snapshot_id"] > done_through:
            new_files.extend(os.path.join(pt.path, e["path"])
                             for e in man["entries"])
    keys = ["time_idx", "row_idx", "col_idx"]
    touched = (spark.read.option("basePath", pt.path).parquet(*new_files)
               .select(*keys).distinct()) if new_files else None
    if touched is None:
        ref_count = 0
    else:
        all_patches = pt.read(spark)
        todo = all_patches.join(F.broadcast(touched), on=keys, how="left_semi")
        chunks = M.composite_chunks(todo, grid, mode=mode) \
            .withColumn("updated_snap", F.lit(latest))
        ct.append(chunks, partition_by=["time_idx"],
                  properties={"compacted_through": str(latest)},
                  summary={"operation": "refresh-chunks",
                           "patch_snapshots": [done_through + 1, latest]})
        ref_count = touched.count()
    return {"refreshed_chunks": ref_count, "compacted_through": latest}


def latest_chunks(spark: SparkSession, chunks_table: str) -> DataFrame:
    """Current materialized view: newest version of every chunk key."""
    from pyspark.sql import Window
    ct = Icelite(chunks_table).read(spark)
    w = Window.partitionBy("time_idx", "row_idx", "col_idx") \
        .orderBy(F.desc("updated_snap"))
    return (ct.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1).drop("_rk", "updated_snap"))
