"""Derived raster products job — the spark-submit surface for the
post-mosaic raster operators (focal filters, cross-time composites,
overview pyramids) over a COMMITTED icelite mosaic table.

The grid geometry is recovered from the source table's own properties
(the pipeline commits grid JSON + config_hash, plans/pipeline.py),
so the job takes only table paths and the stage spec — no way to run
a derived product against the wrong geometry. The output is a new
icelite table whose properties record the source table, the source
snapshot id, and the stage config (lineage for audits / incremental
rebuilds).

    spark-submit --master local[16] --driver-memory 16g \
      --py-files dist/engine.zip jobs/raster_job.py \
      --table /data/mosaic --output /data/mosaic_grad \
      --stage focal --op grad
    # --stage temporal --op latest_valid | mean | median
    # --stage overview --levels 2
    # --stage change --time-a 0 --time-b 1 --threshold 16

Prints ONE metrics JSON line on success.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STAGES = ("focal", "temporal", "overview", "stretch", "trend", "change",
          "regions", "flowacc", "disttrans", "contour", "morpho",
          "histmatch", "otsu", "sieve", "basins")


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="source mosaic table")
    ap.add_argument("--output", required=True, help="derived table path")
    ap.add_argument("--stage", required=True, choices=STAGES)
    ap.add_argument("--op", default=None,
                    help="focal: mean|max|min|grad|slope|hillshade|aspect; "
                         "temporal: latest_valid|mean|median")
    ap.add_argument("--radius", type=int, default=1, help="focal radius")
    ap.add_argument("--iters", type=int, default=8,
                    help="flowacc/disttrans round count (fronts move 1 px/round)")
    ap.add_argument("--levels", type=int, default=1,
                    help="overview pyramid levels to apply")
    ap.add_argument("--p-low", type=float, default=2.0,
                    help="stretch: low percentile over non-zero pixels")
    ap.add_argument("--p-high", type=float, default=98.0,
                    help="stretch: high percentile over non-zero pixels")
    ap.add_argument("--scale", type=int, default=100,
                    help="trend: integer slope scale (default centi-"
                         "units per time step)")
    ap.add_argument("--time-a", type=int, default=None,
                    help="change: earlier time_idx")
    ap.add_argument("--time-b", type=int, default=None,
                    help="change: later time_idx")
    ap.add_argument("--threshold", type=int, default=16,
                    help="change: per-pixel |a-b| change threshold")
    ap.add_argument("--min-pixels", type=int, default=1,
                    help="regions: drop regions smaller than this")
    ap.add_argument("--band", type=int, default=0,
                    help="regions: band to threshold")
    ap.add_argument("--incremental", action="store_true",
                    help="focal only: recompute just the chunks whose "
                         "source changed since the derived table's "
                         "recorded source_snapshot (+ their neighbor "
                         "ring) and MERGE them in")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.sources.icelite import Icelite

    if args.stage in ("focal", "temporal", "morpho") and not args.op:
        ap.error(f"--stage {args.stage} requires --op")
    if args.stage == "overview" and args.levels < 1:
        ap.error("--levels must be >= 1")
    if args.stage in ("change", "histmatch") and (args.time_a is None
                                                  or args.time_b is None):
        ap.error(f"--stage {args.stage} requires --time-a and --time-b")
    if args.incremental and args.stage not in ("focal", "regions",
                                               "otsu"):
        ap.error("--incremental supports --stage focal, regions or "
                 "otsu")
    if args.incremental and args.stage == "otsu":
        return _run_incremental_otsu(args)
    if args.incremental and args.stage == "regions":
        return _run_incremental_regions(args)
    if args.incremental:
        return _run_incremental(args)
    if os.path.exists(args.output):
        raise FileExistsError(
            f"{args.output} exists; derived tables are cheap — "
            "write to a fresh path or remove the old table")

    spark = SparkSession.builder.getOrCreate()
    t0 = time.time()
    src = Icelite(args.table)
    props = src.properties()
    if "grid" not in props:
        raise ValueError(
            f"{args.table} has no grid in its properties; not a "
            "mosaic table committed by this engine")
    grid = OutputGrid.from_dict(json.loads(props["grid"]))
    src_snap = src.current_snapshot_id()
    chunks = src.read(spark)
    n_in = chunks.count()

    stage_cfg: dict = {"stage": args.stage}
    if args.stage == "focal":
        from aef_mosaic_spark.operators.focal import focal_chunks
        out_df = focal_chunks(chunks, grid, op=args.op,
                              radius=args.radius, chunk_col="chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(op=args.op, radius=args.radius)
    elif args.stage == "morpho":
        from aef_mosaic_spark.operators.focal import morphology
        out_df = morphology(chunks, grid, op=args.op,
                            radius=args.radius, chunk_col="chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(op=args.op, radius=args.radius)
    elif args.stage == "histmatch":
        from pyspark.sql import functions as F

        from aef_mosaic_spark.operators.focal import histogram_match
        out_df = histogram_match(
            chunks.where(F.col("time_idx") == args.time_a),
            chunks.where(F.col("time_idx") == args.time_b), grid,
            chunk_col="chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(time_a=args.time_a, time_b=args.time_b)
    elif args.stage == "otsu":
        # persists the per-chunk histogram fragment table beside the
        # output (the regions _fragments recipe for a GLOBAL
        # statistic): incremental maintenance then merges changed
        # chunks' rows and re-derives the thresholds fragment-sized
        from aef_mosaic_spark.operators.focal import (apply_thresholds,
                                                      chunk_histograms,
                                                      otsu_thresholds)
        hist_t = Icelite(args.output + "_hist")
        hist_t.append(
            chunk_histograms(chunks, grid, chunk_col="chunk"),
            partition_by=["time_idx"],
            properties={
                "derived_from": args.table,
                "source_snapshot": str(src_snap),
                "grid": props["grid"],
                "stage_config": json.dumps({"stage": "otsu"},
                                           sort_keys=True),
            },
            summary={"operation": "derive-otsu-hist"})
        gh = (hist_t.read(spark).groupBy("band", "bin")
              .agg({"cnt": "sum"}).withColumnRenamed("sum(cnt)", "cnt")
              .collect())
        ths = otsu_thresholds(gh, grid.num_bands)
        out_df = apply_thresholds(chunks, grid, ths, chunk_col="chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(thresholds=ths)
    elif args.stage == "basins":
        # input: a committed D8 table (--stage focal --op d8)
        from aef_mosaic_spark.operators.focal import basin_labels
        out_df = basin_labels(chunks, grid, iters=args.iters,
                              band=args.band, chunk_col="chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(iters=args.iters, band=args.band)
    elif args.stage == "sieve":
        from aef_mosaic_spark.operators.regions import sieve_chunks
        out_df = sieve_chunks(chunks, grid, threshold=args.threshold,
                              band=args.band,
                              min_pixels=args.min_pixels,
                              chunk_col="chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(threshold=args.threshold, band=args.band,
                         min_pixels=args.min_pixels)
    elif args.stage == "disttrans":
        from aef_mosaic_spark.operators.focal import distance_transform
        out_df = distance_transform(chunks, grid, iters=args.iters,
                                    threshold=args.threshold,
                                    chunk_col="chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(iters=args.iters, threshold=args.threshold)
    elif args.stage == "flowacc":
        from aef_mosaic_spark.operators.focal import flow_accumulation
        out_df = flow_accumulation(chunks, grid, iters=args.iters,
                                   chunk_col="chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(iters=args.iters)
    elif args.stage == "temporal":
        from aef_mosaic_spark.operators.mosaic import temporal_composite
        out_df = temporal_composite(chunks, grid, op=args.op,
                                    chunk_col="chunk") \
            .withColumnRenamed("chunk_bytes", "chunk")
        partition_by = None
        stage_cfg.update(op=args.op)
    elif args.stage == "trend":
        from aef_mosaic_spark.operators.mosaic import temporal_trend
        out_df = temporal_trend(chunks, grid, scale=args.scale,
                                chunk_col="chunk") \
            .withColumnRenamed("slope_bytes", "chunk")
        partition_by = None
        stage_cfg.update(scale=args.scale)
    elif args.stage == "change":
        from aef_mosaic_spark.operators.mosaic import temporal_change
        out_df = temporal_change(chunks, grid, time_a=args.time_a,
                                 time_b=args.time_b,
                                 threshold=args.threshold,
                                 chunk_col="chunk") \
            .withColumnRenamed("mask_bytes", "chunk")
        partition_by = None
        stage_cfg.update(time_a=args.time_a, time_b=args.time_b,
                         threshold=args.threshold)
    elif args.stage == "regions":
        # vector OUTPUT stage: the region table, not chunks — change
        # DETECTION (--stage change) composes into change OBJECTS by
        # pointing --table at the committed change-mask table.
        # The per-chunk FRAGMENT table (the expensive decode+label
        # pass) is persisted beside the output: incremental
        # maintenance then recomputes fragments for CDC chunks only
        # and re-assembles from the fragment-sized table.
        from aef_mosaic_spark.operators.regions import (
            assemble_regions, region_fragments)
        stage_cfg.update(threshold=args.threshold, band=args.band,
                         min_pixels=args.min_pixels)
        frags_t = Icelite(args.output + "_fragments")
        frags_t.append(
            region_fragments(chunks, grid, threshold=args.threshold,
                             band=args.band, chunk_col="chunk"),
            partition_by=["time_idx"],
            properties={
                "derived_from": args.table,
                "source_snapshot": str(src_snap),
                "grid": props["grid"],
                "stage_config": json.dumps(stage_cfg, sort_keys=True),
            },
            summary={"operation": "derive-region-fragments"})
        out_df = assemble_regions(frags_t.read(spark),
                                  min_pixels=args.min_pixels)
        partition_by = None
    elif args.stage == "contour":
        # vector OUTPUT stage (like regions): the segment table
        from aef_mosaic_spark.operators.focal import contour_segments
        out_df = contour_segments(chunks, grid, level=args.threshold,
                                  band=args.band, chunk_col="chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(level=args.threshold, band=args.band)
    elif args.stage == "stretch":
        from aef_mosaic_spark.operators.focal import histogram_stretch
        out_df = histogram_stretch(chunks, grid, p_low=args.p_low,
                                   p_high=args.p_high, chunk_col="chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(p_low=args.p_low, p_high=args.p_high)
    else:
        from aef_mosaic_spark.operators.mosaic import overview_chunks
        out_df = chunks
        col = "chunk"
        for _ in range(args.levels):
            out_df = overview_chunks(out_df, grid, chunk_col=col)
            col = "chunk_bytes"
        out_df = out_df.withColumnRenamed("chunk_bytes", "chunk")
        partition_by = ["time_idx"]
        stage_cfg.update(levels=args.levels)

    dst = Icelite(args.output)
    snap_id = dst.append(
        out_df, partition_by=partition_by,
        properties={
            "derived_from": args.table,
            "source_snapshot": str(src_snap),
            "source_config_hash": props.get("config_hash", ""),
            "grid": props["grid"],
            "stage_config": json.dumps(stage_cfg, sort_keys=True),
        },
        summary={"operation": f"derive-{args.stage}"},
    )
    n_out = dst.read(spark).count()
    wall = time.time() - t0
    print(json.dumps({
        "snapshot_id": snap_id, "wall_s": round(wall, 3),
        "stage": args.stage, **{k: v for k, v in stage_cfg.items()
                                if k != "stage"},
        "chunks_in": n_in, "chunks_out": n_out,
        "source_snapshot": src_snap,
    }))


def _run_incremental(args):
    """Incremental focal maintenance: CDC keys since the derived
    table's recorded source_snapshot -> ring-1 affected output keys
    (an appended chunk changes its neighbors' halos too) -> ring-2
    input set (the affected chunks' own halos) -> focal over the
    input set, RESTRICTED to the affected keys -> CoW MERGE.  Work
    is O(changed * 9), never O(table); the derived table advances its
    source_snapshot pointer in the same commit (exactly-once)."""
    import json as _json
    import time as _time

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.operators.focal import (expand_neighbor_keys,
                                                  focal_chunks)
    from aef_mosaic_spark.sources.icelite import Icelite

    spark = SparkSession.builder.getOrCreate()
    t0 = _time.time()
    src, dst = Icelite(args.table), Icelite(args.output)
    if dst.current_snapshot_id() is None:
        raise FileNotFoundError(
            f"{args.output} has no snapshots; run the full --stage "
            "focal derivation first")
    dprops = dst.properties()
    want = {"stage": "focal", "op": args.op, "radius": args.radius}
    have = _json.loads(dprops.get("stage_config", "{}"))
    # tables derived while a 9x-replicate focal plan existed also
    # record "strategy"; both plans gave bit-identical chunks
    have.pop("strategy", None)
    if dprops.get("derived_from") != args.table or have != want:
        raise ValueError(
            f"incremental refused: {args.output} was derived with "
            f"{dprops.get('derived_from')!r} {have} but this run asks "
            f"{args.table!r} {want} — rebuild instead of mixing")
    grid = OutputGrid.from_dict(_json.loads(dprops["grid"]))
    from_snap = int(dprops["source_snapshot"])
    to_snap = src.current_snapshot_id()
    keys = ["time_idx", "row_idx", "col_idx"]

    cdc = src.read_incremental(spark, from_snap)
    changed = cdc.select(*keys).distinct()
    n_changed = changed.count()
    if n_changed == 0:
        print(_json.dumps({"stage": "focal", "incremental": True,
                           "changed": 0, "affected": 0, "merged": 0,
                           "wall_s": round(_time.time() - t0, 3),
                           "source_snapshot": to_snap}))
        return
    ring1 = expand_neighbor_keys(changed, grid, ring=1)
    ring2 = expand_neighbor_keys(ring1, grid, ring=1)
    # prune the source scan to the affected bounding box (manifest
    # stats / partition values): exact row filtering still comes from
    # the semi-join; pruning just skips files a localized change
    # never touches. One tiny agg over the (small) ring2 key set.
    bb = ring2.agg(F.min("row_idx"), F.max("row_idx"),
                   F.min("col_idx"), F.max("col_idx")).collect()[0]
    chunks = src.read(spark, filters={"row_idx": (bb[0], bb[1]),
                                      "col_idx": (bb[2], bb[3])})
    inputs = chunks.join(ring2, keys, "leftsemi")
    out = focal_chunks(inputs, grid, op=args.op, radius=args.radius,
                       chunk_col="chunk") \
        .join(ring1, keys, "leftsemi").persist()
    n_aff = out.count()   # materializes; merge reuses, not recomputes
    # the same bbox prunes the merge's affected-file DISCOVERY scan
    # over the derived table (filters on key columns, bounds-checked
    # by merge itself)
    snap_id = dst.merge(
        spark, out, key_cols=keys, partition_by=["time_idx"],
        filters={"row_idx": (bb[0], bb[1]), "col_idx": (bb[2], bb[3])},
        properties={"source_snapshot": str(to_snap)},
        summary={"operation": "derive-focal-incremental",
                 "changed_chunks": n_changed},
    )
    out.unpersist()
    print(_json.dumps({
        "snapshot_id": snap_id, "stage": "focal", "incremental": True,
        "changed": n_changed, "affected": n_aff,
        "wall_s": round(_time.time() - t0, 3),
        "source_snapshot": to_snap, "from_snapshot": from_snap,
    }))



def _run_incremental_regions(args):
    """Incremental region maintenance: CDC chunk keys since the
    FRAGMENT table's recorded source_snapshot -> recompute fragments
    for exactly those chunks (NO neighbor ring — stitching is
    assemble-time, so a chunk's fragments are a pure function of that
    chunk) -> group-replace MERGE into the fragment table (the kind=2
    marker guarantees a now-empty chunk still clears its old rows) ->
    re-assemble the region table from the fragment-sized index and
    OVERWRITE it. Decode+label work is O(changed); the global solve
    is O(fragments), never O(chunk bytes)."""
    import json as _json
    import time as _time

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.operators.regions import (assemble_regions,
                                                    region_fragments)
    from aef_mosaic_spark.sources.icelite import Icelite

    spark = SparkSession.builder.getOrCreate()
    t0 = _time.time()
    src = Icelite(args.table)
    frags_t = Icelite(args.output + "_fragments")
    dst = Icelite(args.output)
    if frags_t.current_snapshot_id() is None:
        raise FileNotFoundError(
            f"{args.output}_fragments has no snapshots; run the full "
            "--stage regions derivation first")
    fprops = frags_t.properties()
    want = {"stage": "regions", "threshold": args.threshold,
            "band": args.band, "min_pixels": args.min_pixels}
    have = _json.loads(fprops.get("stage_config", "{}"))
    if fprops.get("derived_from") != args.table or have != want:
        raise ValueError(
            f"incremental refused: {args.output}_fragments was derived "
            f"with {fprops.get('derived_from')!r} {have} but this run "
            f"asks {args.table!r} {want} — rebuild instead of mixing")
    grid = OutputGrid.from_dict(_json.loads(fprops["grid"]))
    from_snap = int(fprops["source_snapshot"])
    to_snap = src.current_snapshot_id()
    keys = ["time_idx", "row_idx", "col_idx"]

    # allow_rewrites: a MERGE'd source chunk arrives as a rewritten
    # file whose keys are a SUPERSET of the changed ones — extra keys
    # just relabel unchanged chunks to the same fragments (idempotent)
    cdc = src.read_incremental(spark, from_snap, allow_rewrites=True)
    changed = cdc.select(*keys).distinct()
    n_changed = changed.count()
    if n_changed == 0:
        print(_json.dumps({"stage": "regions", "incremental": True,
                           "changed": 0, "wall_s":
                           round(_time.time() - t0, 3),
                           "source_snapshot": to_snap}))
        return
    bb = changed.agg(F.min("row_idx"), F.max("row_idx"),
                     F.min("col_idx"), F.max("col_idx")).collect()[0]
    chunks = src.read(spark, filters={"row_idx": (bb[0], bb[1]),
                                      "col_idx": (bb[2], bb[3])})
    inputs = chunks.join(changed, keys, "leftsemi")
    upd = region_fragments(inputs, grid, threshold=args.threshold,
                           band=args.band, chunk_col="chunk").persist()
    n_frag = upd.count()  # materializes; merge reuses, not recomputes
    frags_t.merge(
        spark, upd, key_cols=keys, partition_by=["time_idx"],
        filters={"row_idx": (bb[0], bb[1]), "col_idx": (bb[2], bb[3])},
        properties={"source_snapshot": str(to_snap)},
        summary={"operation": "region-fragments-incremental",
                 "changed_chunks": n_changed})
    upd.unpersist()
    out = assemble_regions(frags_t.read(spark),
                           min_pixels=args.min_pixels)
    snap_id = dst.overwrite(
        out, properties={
            "derived_from": args.table,
            "source_snapshot": str(to_snap),
            "grid": fprops["grid"],
            "stage_config": fprops.get("stage_config", ""),
        })
    n_out = dst.read(spark).count()
    print(_json.dumps({
        "snapshot_id": snap_id, "stage": "regions", "incremental": True,
        "changed": n_changed, "fragments_merged": n_frag,
        "regions_out": n_out, "wall_s": round(_time.time() - t0, 3),
        "source_snapshot": to_snap, "from_snapshot": from_snap,
    }))


def _run_incremental_otsu(args):
    """Incremental Otsu maintenance — a GLOBAL statistic kept fresh at
    O(changed) decode cost: CDC chunk keys -> recompute per-chunk
    histograms for exactly those chunks -> group-replace MERGE into
    the _hist fragment table -> re-derive the thresholds from the
    fragment-sized aggregate.  Then the two-level law:
      thresholds UNCHANGED (the common case — a local edit rarely
      moves a corpus statistic): re-binarize only the changed chunks
      and MERGE -> O(changed) end to end.
      thresholds CHANGED: every mask is stale by definition; one full
      re-apply pass + OVERWRITE (decode O(table), but histogram work
      stayed O(changed) and the pass is flagged in the metrics)."""
    import json as _json
    import time as _time

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.operators.focal import (apply_thresholds,
                                                  chunk_histograms,
                                                  otsu_thresholds)
    from aef_mosaic_spark.sources.icelite import Icelite

    spark = SparkSession.builder.getOrCreate()
    t0 = _time.time()
    src = Icelite(args.table)
    hist_t = Icelite(args.output + "_hist")
    dst = Icelite(args.output)
    if hist_t.current_snapshot_id() is None:
        raise FileNotFoundError(
            f"{args.output}_hist has no snapshots; run the full "
            "--stage otsu derivation first")
    hprops = hist_t.properties()
    if hprops.get("derived_from") != args.table:
        raise ValueError(
            f"incremental refused: {args.output}_hist was derived "
            f"from {hprops.get('derived_from')!r} but this run asks "
            f"{args.table!r} — rebuild instead of mixing")
    grid = OutputGrid.from_dict(_json.loads(hprops["grid"]))
    from_snap = int(hprops["source_snapshot"])
    to_snap = src.current_snapshot_id()
    keys = ["time_idx", "row_idx", "col_idx"]
    old_ths = _json.loads(dst.properties()["stage_config"])["thresholds"]

    cdc = src.read_incremental(spark, from_snap, allow_rewrites=True)
    changed = cdc.select(*keys).distinct()
    n_changed = changed.count()
    if n_changed == 0:
        print(_json.dumps({"stage": "otsu", "incremental": True,
                           "changed": 0, "thresholds": old_ths,
                           "wall_s": round(_time.time() - t0, 3),
                           "source_snapshot": to_snap}))
        return
    bb = changed.agg(F.min("row_idx"), F.max("row_idx"),
                     F.min("col_idx"), F.max("col_idx")).collect()[0]
    chunks = src.read(spark, filters={"row_idx": (bb[0], bb[1]),
                                      "col_idx": (bb[2], bb[3])})
    inputs = chunks.join(changed, keys, "leftsemi").persist()
    upd = chunk_histograms(inputs, grid, chunk_col="chunk").persist()
    upd.count()
    hist_t.merge(
        spark, upd, key_cols=keys, partition_by=["time_idx"],
        filters={"row_idx": (bb[0], bb[1]), "col_idx": (bb[2], bb[3])},
        properties={"source_snapshot": str(to_snap)},
        summary={"operation": "otsu-hist-incremental",
                 "changed_chunks": n_changed})
    upd.unpersist()
    gh = (hist_t.read(spark).groupBy("band", "bin")
          .agg({"cnt": "sum"}).withColumnRenamed("sum(cnt)", "cnt")
          .collect())
    new_ths = otsu_thresholds(gh, grid.num_bands)

    stage_cfg = {"stage": "otsu", "thresholds": new_ths}
    if new_ths == old_ths:
        out = apply_thresholds(inputs, grid, new_ths,
                               chunk_col="chunk").persist()
        n_out = out.count()
        dst.merge(
            spark, out, key_cols=keys,
            partition_by=["time_idx"],
            filters={"row_idx": (bb[0], bb[1]),
                     "col_idx": (bb[2], bb[3])},
            properties={"source_snapshot": str(to_snap)},
            summary={"operation": "otsu-incremental-stable",
                     "changed_chunks": n_changed})
        out.unpersist()
        path = "stable"
    else:
        full = src.read(spark)
        out = apply_thresholds(full, grid, new_ths, chunk_col="chunk")
        n_out = out.count()
        dst.overwrite(
            out, partition_by=["time_idx"],
            properties={
                "derived_from": args.table,
                "source_snapshot": str(to_snap),
                "grid": hprops["grid"],
                "stage_config": _json.dumps(stage_cfg, sort_keys=True),
            },
            summary={"operation": "otsu-incremental-reapply",
                     "changed_chunks": n_changed})
        path = "reapply"
    inputs.unpersist()
    print(_json.dumps({
        "stage": "otsu", "incremental": True, "path": path,
        "changed": n_changed, "masks_written": n_out,
        "thresholds": new_ths, "thresholds_moved": new_ths != old_ths,
        "wall_s": round(_time.time() - t0, 3),
        "source_snapshot": to_snap}))


if __name__ == "__main__":
    main()
