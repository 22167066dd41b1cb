"""MosaicJob — the end-to-end resumable run (reference run_pipeline,
/root/reference/src/lib.rs:47-363) plus the plan-only analyze command
(reference analyze_work, src/main.rs:119-253).

Lifecycle mapping (SURVEY §3): steps 1-4 of the reference (setup,
bind, plan, physical plan) are driver-side DataFrame construction that
Catalyst analyzes/optimizes; step 5 (3-stage worker pipeline) is one
Spark DAG; checkpointing is an icelite snapshot per run with resume =
anti-join of pending chunk keys against committed partitions.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from aef_mosaic_spark.grid import OutputGrid
from aef_mosaic_spark.operators import mosaic as M
from aef_mosaic_spark.plans.backfill import TokenBucket
from aef_mosaic_spark.sources.icelite import Icelite

KEYS = ["time_idx", "row_idx", "col_idx"]


def config_hash(grid: OutputGrid, mode: str) -> str:
    """SHA-256 over output-affecting config, like the reference's
    checkpoint guard (src/checkpoint.rs:284-306): resuming with a
    different grid/mode must be refused, not silently mixed.
    The payload is exactly {"grid", "mode"}, so every table written by
    the exact transform keeps its hash and still resumes. Tables
    committed by the removed approximate reprojection also hashed its
    pixel budget; their hash never matches, so resume keeps refusing
    them (their chunks may differ from the exact ones)."""
    payload = json.dumps({"grid": grid.to_dict(), "mode": mode},
                         sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()


class MosaicJob:
    def __init__(self, grid: OutputGrid, mode: str = "mean",
                 skip_bad_tiles: bool = False):
        self.grid = grid
        self.mode = mode
        # tolerate corrupt tiles (skip + count) instead of failing the job
        self.skip_bad_tiles = skip_bad_tiles
        self.hash = config_hash(grid, mode)

    # ------------------------------------------------------------ plan
    def pending_tiles(self, images: DataFrame, done: DataFrame,
                      row_range: tuple[int, int] | None = None) -> DataFrame:
        """Prune completed chunks (reference src/lib.rs:249-264, F4/J9).

        Fully distributed, and the bytes column is never evaluated
        twice: the per-tile remaining-chunk list (`todo`, packed
        row*chunk_cols+col longs) is computed from a METADATA-ONLY
        branch (column-pruned scan -> assignments -> anti-join the
        committed keys), then inner-joined back to the raw tile rows —
        fully-completed tiles drop out before any decode, and the
        patch kernel consumes `todo` so partially-done tiles reproject
        ONLY their pending chunks.
        """
        meta = images.select("image_id", "crs", "min_x", "min_y",
                             "max_x", "max_y", "year")
        keys = M.assignments(meta, self.grid)
        if row_range is not None:
            keys = keys.where(F.col("row_idx").between(*row_range))
        keys = keys.join(done, on=KEYS, how="left_anti")
        todo = keys.groupBy("image_id").agg(
            F.collect_set(
                (F.col("row_idx").cast("long") * self.grid.chunk_cols
                 + F.col("col_idx")).cast("long")
            ).alias("todo")
        )
        return images.join(todo, "image_id")

    # ------------------------------------------------------------- run
    def run(self, spark: SparkSession, images: DataFrame, output_path: str,
            resume: bool = False,
            row_range: tuple[int, int] | None = None,
            process_years: tuple[int, ...] | None = None,
            progress_interval_s: float | None = None) -> dict:
        """Execute and commit one snapshot; returns a metrics dict
        (reference MetricsSnapshot, src/pipeline/metrics.rs:322-329).

        row_range=(r0, r1) restricts this commit to the inclusive
        chunk-row band — the unit of incremental checkpointing (see
        run_incremental). With a band, `previously_completed` counts
        only that band's committed chunks, and an untouched band skips
        the pending-tiles anti-join even on a resumed table.

        process_years restricts this commit to a subset of the grid's
        output years — the reference's output-years vs process-years
        split (src/lib.rs:104-136) so K independent drivers each commit
        a disjoint year slice of ONE table. Chunk keys carry time_idx,
        so year slices partition the keyspace exactly; composable with
        row_range (a VM can own a (year, row-band) cell)."""
        table = Icelite(output_path)
        if not resume and table.exists():
            raise FileExistsError(f"{output_path} exists; pass resume=True")
        t0 = time.time()

        t_sel: list[int] | None = None
        if process_years is not None:
            bad = set(process_years) - set(self.grid.years)
            if bad:
                raise ValueError(
                    f"process_years {sorted(bad)} not in grid years "
                    f"{list(self.grid.years)}")
            t_sel = sorted(self.grid.years.index(y) for y in process_years)
            # pushed to the scan alongside the bbox prefilter
            images = images.where(
                F.col("year").isin([int(y) for y in process_years]))

        n_completed = 0
        done = None
        if resume and table.exists():
            props = table.properties()
            if props.get("config_hash") != self.hash:
                raise ValueError(
                    "resume refused: config_hash mismatch "
                    f"({props.get('config_hash')} != {self.hash})"
                )
            # manifest-level file pruning narrows the committed-keys
            # read to the slice's files; the .where is the exact filter
            filters = {}
            if row_range is not None:
                filters["row_idx"] = tuple(row_range)
            if t_sel is not None:
                filters["time_idx"] = (t_sel[0], t_sel[-1])
            done = table.completed_keys(spark, KEYS, filters=filters or None)
            if row_range is not None:
                done = done.where(F.col("row_idx").between(*row_range))
            if t_sel is not None:
                done = done.where(F.col("time_idx").isin(t_sel))
            n_completed = done.count()

        # fresh run (or untouched band): every tile; resume: the tiles
        # with pending chunks, each carrying its `todo` work-list into
        # the kernel — the emitted patch set IS the pending set
        tiles = images if n_completed == 0 else \
            self.pending_tiles(images, done, row_range=row_range)
        obs_tiles = Observation("tiles")
        pre = M.wgs84_prefilter(tiles, self.grid, row_range=row_range).observe(
            obs_tiles,
            F.count(F.lit(1)).alias("n_tiles"),
            F.sum(F.length("bytes")).alias("tile_bytes"),
        )
        bad_acc = spark.sparkContext.accumulator(0) \
            if self.skip_bad_tiles else None
        patches = M.prefiltered_patches(pre, self.grid, row_range=row_range,
                                        skip_bad_tiles=self.skip_bad_tiles,
                                        bad_tile_acc=bad_acc)
        obs_patches = Observation("patches")
        patches = patches.observe(
            obs_patches,
            F.count(F.lit(1)).alias("n_patches"),
            F.sum(F.length("patch")).alias("patch_bytes"),
        )
        chunks = M.composite_chunks(patches, self.grid, mode=self.mode)

        reporter = None
        if progress_interval_s:
            from aef_mosaic_spark.plans.progress import ProgressReporter
            reporter = ProgressReporter(spark, interval_s=progress_interval_s)
            reporter.start()
        snap_id = table.append(
            chunks,
            partition_by=["time_idx"],
            properties={
                "config_hash": self.hash,
                "grid": json.dumps(self.grid.to_dict()),
                "mode": self.mode,
            },
            summary={"operation": "mosaic", "resumed": resume,
                     "previously_completed": n_completed,
                     **({"row_range": list(row_range)}
                        if row_range is not None else {}),
                     **({"process_years": sorted(int(y) for y in process_years)}
                        if process_years is not None else {})},
        )
        stage_seconds = reporter.stop() if reporter else None
        if snap_id == 1:
            self._write_coordinate_tables(spark, output_path)
        wall = time.time() - t0

        def _get(obs: Observation, keys: list[str]) -> dict:
            # an all-complete resume fires with zero rows: null sums
            m = obs.get
            return {k: (m.get(k) or 0) for k in keys}

        tile_m = _get(obs_tiles, ["n_tiles", "tile_bytes"])
        patch_m = _get(obs_patches, ["n_patches", "patch_bytes"])
        lineage = table.lineage()
        metrics = {
            "snapshot_id": snap_id,
            "wall_s": round(wall, 3),
            "tiles_in": tile_m["n_tiles"],
            "tile_bytes_in": tile_m["tile_bytes"],
            "patches": patch_m["n_patches"],
            "patch_bytes": patch_m["patch_bytes"],
            "chunks_written": sum(e["rows"] for e in lineage
                                  if e["snapshot_id"] == snap_id),
            "bytes_written": sum(e["bytes"] for e in lineage
                                 if e["snapshot_id"] == snap_id),
            "previously_completed": n_completed,
            "tiles_per_sec": round((tile_m["n_tiles"] or 0) / wall, 2),
            "read_mb_per_sec": round((tile_m["tile_bytes"] or 0) / wall / 1e6, 2),
            "write_mb_per_sec": round(
                sum(e["bytes"] for e in lineage
                    if e["snapshot_id"] == snap_id) / wall / 1e6, 2),
            **({"bad_tiles_skipped": bad_acc.value}
               if self.skip_bad_tiles else {}),
        }
        if stage_seconds is not None:
            total = sum(stage_seconds.values()) or 1.0
            metrics["stage_seconds"] = stage_seconds
            metrics["stage_pct"] = {
                str(k): round(100.0 * v / total, 1)
                for k, v in stage_seconds.items()}
        with open(os.path.join(output_path, f"metrics-{snap_id}.json"), "w") as f:
            json.dump(metrics, f, indent=1)
        return metrics

    def run_incremental(self, spark: SparkSession, images: DataFrame,
                        output_path: str, groups: int = 4,
                        resume: bool = False,
                        process_years: tuple[int, ...] | None = None,
                        bucket: TokenBucket | None = None,
                        on_progress=None) -> dict:
        """Mid-run incremental checkpointing: split the chunk keyspace
        into `groups` contiguous row bands and commit each band as its
        own snapshot — a crash loses at most ONE band's work, matching
        the reference's periodic completed-chunk flush
        (src/checkpoint.rs:184-239, 60 s cadence) with Spark-shaped
        granularity (K independent jobs over disjoint chunk rows).

        Correctness: bands partition the CHUNK keyspace, so every chunk
        is composited from ALL tiles that touch it (tiles straddling a
        band edge are read in both bands — bounded double-decode at the
        boundary only). Resume reuses the normal done-keys anti-join
        per band: completed bands skip at metadata cost, the interrupted
        band resumes at pending-chunk granularity, untouched bands skip
        the pending-tiles anti-join.

        bucket, a plans.backfill.TokenBucket over input bytes, paces a
        backfill: each band's actual `tile_bytes_in` is charged after
        its commit. on_progress, if set, receives one dict per band:
        {group, groups, chunks_written, tile_bytes_in, slept_s, eta_s,
        done_frac}."""
        rows = self.grid.chunk_rows
        groups = max(1, min(groups, rows))
        edges = [round(i * rows / groups) for i in range(groups + 1)]
        table = Icelite(output_path)
        if not resume and table.exists():
            raise FileExistsError(f"{output_path} exists; pass resume=True")
        t0 = time.time()
        per_group: list[dict] = []
        for i in range(groups):
            r0, r1 = edges[i], edges[i + 1] - 1
            if r1 < r0:
                continue
            m = self.run(spark, images, output_path,
                         resume=resume or table.exists(),
                         row_range=(r0, r1),
                         process_years=process_years)
            slept = 0.0
            if bucket is not None and i < groups - 1:
                # paces the NEXT band's reads, so the last is never charged
                slept = bucket.acquire(float(m["tile_bytes_in"]))
            m.update(group=i, row_range=[r0, r1], slept_s=round(slept, 3))
            per_group.append(m)
            if on_progress is not None:
                done = i + 1
                on_progress({
                    "group": i, "groups": groups,
                    "chunks_written": m["chunks_written"],
                    "tile_bytes_in": m["tile_bytes_in"],
                    "slept_s": m["slept_s"],
                    "eta_s": round((time.time() - t0) / done * (groups - done), 1),
                    "done_frac": round(done / groups, 4),
                })
        wall = time.time() - t0
        tile_bytes = sum(m["tile_bytes_in"] for m in per_group)
        return {
            "snapshot_id": per_group[-1]["snapshot_id"] if per_group else None,
            "wall_s": round(wall, 3),
            "groups": len(per_group),
            **{k: sum(m[k] for m in per_group)
               for k in ("tiles_in", "patches", "chunks_written",
                         "bytes_written", "previously_completed")},
            "tile_bytes_in": tile_bytes,
            "slept_s": round(sum(m["slept_s"] for m in per_group), 3),
            "avg_input_mb_per_sec": round(tile_bytes / wall / 1e6, 3),
            "per_group": per_group,
        }

    def _write_coordinate_tables(self, spark: SparkSession, output_path: str):
        """Dimension/coordinate tables for xarray-style consumers
        (reference S11: create_coordinate_arrays, zarr_writer.rs:406-487):
        pixel-center x/y per column/row, years, band indices."""
        g = self.grid
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as papq

        xs = g.bounds[0] + (np.arange(g.width) + 0.5) * g.resolution
        ys = g.bounds[3] - (np.arange(g.height) + 0.5) * g.resolution
        dims = {
            "x": xs, "y": ys,
            "time": np.array([float(y) for y in g.years]),
            "band": np.arange(g.num_bands, dtype=np.float64),
        }
        base = os.path.join(output_path, "coords")
        # tiny driver-side dimension tables: plain pyarrow, no Spark jobs
        for name, vals in dims.items():
            os.makedirs(f"{base}/{name}", exist_ok=True)
            papq.write_table(
                pa.table({"idx": np.arange(len(vals), dtype=np.int32),
                          name: vals}),
                f"{base}/{name}/part-0.parquet")

    # --------------------------------------------------------- analyze
    def analyze(self, spark: SparkSession, images: DataFrame,
                rate_mb_per_sec: float = 100.0) -> dict:
        """Plan-only coverage/cost report (reference analyze_work,
        src/main.rs:215-247 + coverage_stats, spatial_lookup.rs:92-122),
        including the input-bytes/rate ETA model (src/main.rs:243-247):
        est_seconds = relevant input bytes / rate_mb_per_sec."""
        meta = images.select("image_id", "crs", "min_x", "min_y",
                             "max_x", "max_y", "year")
        a = M.assignments(meta, self.grid)
        per_chunk = a.groupBy(*KEYS).agg(F.count(F.lit(1)).alias("n_tiles"))
        stats = per_chunk.agg(
            F.count(F.lit(1)).alias("chunks_with_data"),
            F.max("n_tiles").alias("max_tiles_per_chunk"),
            F.avg("n_tiles").alias("avg_tiles_per_chunk"),
        ).collect()[0]
        # input cost: bytes of tiles that survive the pushed prefilter
        # (the bytes the workers will actually fetch+decode)
        in_stats = M.wgs84_prefilter(images, self.grid).agg(
            F.count(F.lit(1)).alias("n_tiles"),
            F.coalesce(F.sum(F.length("bytes")), F.lit(0)).alias("in_bytes"),
        ).collect()[0]
        chunk_bytes = self.grid.num_bands * self.grid.chunk_h * self.grid.chunk_w
        total = self.grid.num_chunks
        return {
            "total_chunks": total,
            "chunks_with_data": stats.chunks_with_data,
            "empty_chunks": total - stats.chunks_with_data,
            "max_tiles_per_chunk": stats.max_tiles_per_chunk,
            "avg_tiles_per_chunk": round(stats.avg_tiles_per_chunk, 3),
            "input_tiles": in_stats.n_tiles,
            "input_bytes": in_stats.in_bytes,
            "est_seconds_at_rate": round(
                in_stats.in_bytes / (rate_mb_per_sec * 1e6), 3),
            "est_output_bytes": chunk_bytes * stats.chunks_with_data,
            "est_output_bytes_compressed": chunk_bytes * stats.chunks_with_data // 3,
        }
