"""The four workloads: set-up, the timed public call, its output check,
and the traced per-layer decomposition.

Each workload materializes its seeded inputs to parquet during set-up,
so every timed call starts from a scan of an existing table. `layers`
re-runs the workload's path one layer at a time: each layer's input is
materialized first without being timed, then a span is recorded around
the layer's public call, which writes into Spark's `noop` sink (or,
for the sink layer, around `Icelite.append`).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from aef_mosaic_spark import proj
from aef_mosaic_spark.cells import cell_id_col, covering_cells_col
from aef_mosaic_spark.grid import OutputGrid
from aef_mosaic_spark.operators import dedup as D
from aef_mosaic_spark.operators import mosaic as M
from aef_mosaic_spark.operators import spatial_join as S
from aef_mosaic_spark.partitioning import spread_input
from aef_mosaic_spark.plans.pipeline import KEYS, MosaicJob
from aef_mosaic_spark.sources.icelite import Icelite
from perfbench import inputs, oracles

JOIN_RES = 12          # point_in_box_join's default cell resolution
DEDUP = {"threshold": 0.8, "k": 16, "bands": 4}  # the q23 oracle's law


@dataclass(frozen=True)
class Sizes:
    reproject_tiles: int
    resume_tiles: int
    join_tiles: int
    join_points: int
    docs: int
    sample_chunks: int


FULL = Sizes(reproject_tiles=720, resume_tiles=480, join_tiles=4800,
             join_points=600_000, docs=3000, sample_chunks=6)
# the benchmark's own tests, and the probes a traced run makes of the
# layers off its workload's path
SMALL = Sizes(reproject_tiles=60, resume_tiles=120, join_tiles=480,
              join_points=20_000, docs=300, sample_chunks=2)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    sizes: Sizes


IMAGE_ARROW = pa.schema([
    ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()), ("h", pa.int32()),
    ("fmt", pa.string()), ("caption", pa.string()), ("phash", pa.int64()), ("crs", pa.string()),
    *[(c, pa.float64()) for c in ("min_x", "min_y", "max_x", "max_y",
                                  "min_lon", "min_lat", "max_lon", "max_lat", "resolution")],
    ("year", pa.int32()),
])  # aef_mosaic_spark.generator.IMAGE_SCHEMA


def _write(pdf, schema: pa.Schema, path: str) -> None:
    """Materialize an input table as one parquet file, without Spark,
    so set-up does not warm the JVM on the program's behalf."""
    os.makedirs(path)
    pq.write_table(pa.Table.from_pandas(pdf[schema.names], schema=schema, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observed(df, *aggs):
    obs = Observation()
    return df.observe(obs, *aggs), obs


def _snapped_grid(t, crs: str) -> OutputGrid:
    """The EPSG grid covering tiles `t`, bounds snapped outward to whole
    10 m multiples so every pixel centre is an exact binary value."""
    xs, ys = [], []
    for r in t.itertuples(index=False):
        b = proj.transform_bounds((r.min_x, r.min_y, r.max_x, r.max_y), r.crs, crs, densify=5)
        xs += [b[0], b[2]]
        ys += [b[1], b[3]]
    bounds = (float(np.floor(min(xs) / 10) * 10), float(np.floor(min(ys) / 10) * 10),
              float(np.ceil(max(xs) / 10) * 10), float(np.ceil(max(ys) / 10) * 10))
    return OutputGrid(bounds=bounds, crs=crs, resolution=10.0, years=(2023, 2024),
                      num_bands=3, chunk_h=256, chunk_w=256)


class Workload:
    name = ""
    item = ""
    probe_crs = "EPSG:6933"   # proj probe: one chunk of this CRS -> EPSG:32610
    # untimed calls before the timed ones, the first (cold) one included;
    # at least 2, so the oracle can run beside the ones after the cold call
    warmup_calls = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        os.makedirs(ctx.work, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.ctx.work, name)

    def setup(self) -> None:
        """Generate and materialize inputs; program-side preparation."""

    def oracle(self) -> None:
        """Expected outputs (untimed, outside set-up)."""

    def before_call(self) -> None:
        """Untimed per-call preparation."""

    def call(self):
        raise NotImplementedError

    def items(self, result) -> int:
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def layers(self, tr) -> dict:
        raise NotImplementedError

    def properties(self) -> dict:
        return self.props


# ------------------------------------------------------------- mosaic
class _Mosaic(Workload):
    item = "tiles"
    n_tiles_attr = ""

    def _tiles(self, grid_crs: str, keep) -> None:
        n = getattr(self.ctx.sizes, self.n_tiles_attr)
        self.tiles = inputs.tiles(n, self.ctx.seed)
        self.images_pdf = inputs.image_table(self.tiles)
        self.grid = _snapped_grid(self.tiles[keep(self.tiles)], grid_crs)
        self.tiles_path = self.path("tiles")
        _write(self.images_pdf, IMAGE_ARROW, self.tiles_path)
        self.props = inputs.tile_properties(self.tiles, self.grid.crs)
        self.calls = 0

    def images(self):
        return self.spark.read.parquet(self.tiles_path)

    def read_rows(self, out: str, with_sha: bool) -> list[tuple]:
        cols = [*KEYS, "n_tiles", "valid_px"]
        df = Icelite(out).read(self.spark)
        if with_sha:
            df = df.select(*cols, F.sha2("chunk", 256))
        else:
            df = df.select(*cols)
        return [tuple(r) for r in df.collect()]

    def read_chunks(self, out: str, keys) -> dict[tuple, bytes]:
        cond = F.lit(False)
        for t, r, c in keys:
            cond = cond | ((F.col("time_idx") == t) & (F.col("row_idx") == r)
                           & (F.col("col_idx") == c))
        rows = Icelite(out).read(self.spark).where(cond).select(*KEYS, "chunk").collect()
        return {(r[0], r[1], r[2]): bytes(r[3]) for r in rows}

    def check_against_oracle(self, out: str) -> list[str]:
        return oracles.check_mosaic(self.read_rows(out, with_sha=False),
                                    self.read_chunks(out, self.expected["chunks"]),
                                    self.expected)

    def oracle(self) -> None:
        self.expected = oracles.mosaic_expected(self.images_pdf, self.grid,
                                                self.ctx.sizes.sample_chunks, self.ctx.seed)

    def items(self, m: dict) -> int:
        return int(m["tiles_in"])

    # -- layers shared by both mosaic workloads
    def _prefilter_layers(self, tr, out: dict) -> None:
        with tr.span("mosaic.prefilter") as s:
            pre, obs = _observed(M.wgs84_prefilter(self.images(), self.grid),
                                 F.count(F.lit(1)).alias("n"))
            _noop(pre)
        out["mosaic.prefilter_s"] = s["dur_s"]
        out["mosaic.prefilter_tiles"] = obs.get["n"]
        with tr.span("partitioning.spread_input") as s:
            spread_input(M.wgs84_prefilter(self.images(), self.grid), "image_id")
        out["partitioning.spread_input_s"] = s["dur_s"]

    def _patch_layers(self, tr, out: dict, make_patches, tiles_in: int, table: str) -> None:
        """Patch kernel, compositor and sink, each on materialized input."""
        agg = (F.count(F.lit(1)).alias("n"), F.sum(F.length("patch")).alias("bytes"))
        with tr.span("mosaic.patches") as s:
            patches, obs = _observed(make_patches(), *agg)
            _noop(patches)
        out["mosaic.patches_s"] = s["dur_s"]
        out["mosaic.patches"] = obs.get["n"]
        out["mosaic.patch_bytes"] = obs.get["bytes"] or 0
        out["mosaic.patches_per_tile"] = out["mosaic.patches"] / max(tiles_in, 1)
        p_path = self.path("layer-patches")
        make_patches().write.mode("overwrite").parquet(p_path)
        patches = self.spark.read.parquet(p_path)
        out["mosaic.max_patches_per_chunk"] = patches.groupBy(*KEYS).count() \
            .agg(F.max("count")).collect()[0][0] or 0
        with tr.span("mosaic.composite") as s:
            chunks, obs = _observed(M.composite_chunks(patches, self.grid),
                                    F.count(F.lit(1)).alias("n"))
            _noop(chunks)
        out["mosaic.composite_s"] = s["dur_s"]
        out["mosaic.chunks"] = obs.get["n"]
        c_path = self.path("layer-chunks")
        M.composite_chunks(patches, self.grid).write.mode("overwrite").parquet(c_path)
        sink = Icelite(table)
        before = {e["path"] for e in sink.lineage()}
        with tr.span("icelite.append") as s:
            sink.append(self.spark.read.parquet(c_path), partition_by=["time_idx"])
        added = [e for e in sink.lineage() if e["path"] not in before]
        out["icelite.append_s"] = s["dur_s"]
        out["icelite.files_written"] = len(added)
        out["icelite.bytes_written"] = sum(e["bytes"] for e in added)
        px = sum(e["rows"] for e in added) * self.grid.num_bands \
            * self.grid.chunk_h * self.grid.chunk_w
        out["icelite.bytes_per_px"] = out["icelite.bytes_written"] / max(px, 1)


class MosaicReproject(_Mosaic):
    """Fresh MosaicJob.run into an EPSG:6933 grid over both UTM zones:
    every tile crosses CRS, so proj, codecs, the patch kernel, the
    compositor and the sink all do full work."""

    name = "mosaic_reproject"
    n_tiles_attr = "reproject_tiles"

    def setup(self) -> None:
        self._tiles("EPSG:6933", lambda t: ~t["far"])

    def before_call(self) -> None:
        if self.calls:
            shutil.rmtree(self.out)
        self.calls += 1
        self.out = self.path(f"out-{self.calls}")

    def call(self):
        return MosaicJob(self.grid).run(self.spark, self.images(), self.out)

    def check(self, m: dict) -> list[str]:
        return self.check_against_oracle(self.out)

    def layers(self, tr) -> dict:
        out: dict = {}
        self._prefilter_layers(tr, out)
        self._patch_layers(tr, out, lambda: M.tiles_to_patches(self.images(), self.grid),
                           out["mosaic.prefilter_tiles"], self.path("layer-table"))
        return out


class MosaicResume(_Mosaic):
    """MosaicJob.run(resume=True) on the native EPSG:32610 grid with the
    top half of the chunk rows already committed: reads of committed
    keys, the pending-tiles anti-join, the `todo` patch kernel and an
    append beside existing snapshots. proj is the identity here."""

    name = "mosaic_resume"
    n_tiles_attr = "resume_tiles"
    probe_crs = "EPSG:32610"

    def setup(self) -> None:
        self._tiles("EPSG:32610", lambda t: ~t["far"] & (t["crs"] == "EPSG:32610"))
        self.template = self.path("template")
        half = max(self.grid.chunk_rows // 2, 1)
        MosaicJob(self.grid).run(self.spark, self.images(), self.template,
                                 row_range=(0, half - 1))

    def oracle(self) -> None:
        """A fresh run on the same grid, itself checked against the
        NumPy oracle, is the expected table of every resumed call."""
        super().oracle()
        ref = self.path("fresh")
        MosaicJob(self.grid).run(self.spark, self.images(), ref)
        self.fresh_problems = self.check_against_oracle(ref)
        rows = self.read_rows(ref, with_sha=True)
        self.fresh = (oracles.table_digest(rows), len(rows))

    def before_call(self) -> None:
        self.calls += 1
        self.out = self.path("resumed")
        shutil.rmtree(self.out, ignore_errors=True)
        shutil.copytree(self.template, self.out)

    def call(self):
        return MosaicJob(self.grid).run(self.spark, self.images(), self.out, resume=True)

    def check(self, m: dict) -> list[str]:
        problems = [f"fresh reference: {p}" for p in self.fresh_problems]
        if not m["previously_completed"]:
            problems.append("resume found no committed chunks")
        return problems + oracles.check_digest(self.read_rows(self.out, with_sha=True),
                                               *self.fresh)

    def layers(self, tr) -> dict:
        out: dict = {}
        self._prefilter_layers(tr, out)
        self.before_call()
        table = Icelite(self.out)
        with tr.span("icelite.completed_keys") as s:
            done = table.completed_keys(self.spark, KEYS)
            n_done = done.count()
        out["icelite.completed_keys_s"] = s["dur_s"]
        out["pipeline.previously_completed"] = n_done
        d_path = self.path("layer-done")
        done.write.mode("overwrite").parquet(d_path)
        job = MosaicJob(self.grid)
        with tr.span("pipeline.pending_tiles") as s:
            pend, obs = _observed(job.pending_tiles(self.images(), self.spark.read.parquet(d_path)),
                                  F.count(F.lit(1)).alias("n"))
            _noop(pend)
        out["pipeline.pending_tiles_s"] = s["dur_s"]
        out["pipeline.tiles_in"] = obs.get["n"]
        t_path = self.path("layer-pending")
        job.pending_tiles(self.images(), self.spark.read.parquet(d_path)) \
            .write.mode("overwrite").parquet(t_path)
        self._patch_layers(tr, out,
                           lambda: M.reproject_patches(self.spark.read.parquet(t_path), self.grid),
                           out["pipeline.tiles_in"], self.out)
        return out


# --------------------------------------------------------- point join
class TileJoin(Workload):
    """point_in_box_join of seeded points against the WGS84 footprints
    of a tile table; ~10% of the tiles and of the points share the hot
    cluster, so one cell fans out. All JVM, no Python workers."""

    name = "tile_join"
    item = "points"
    warmup_calls = 3

    def setup(self) -> None:
        s = self.ctx.sizes
        geo = inputs.tile_geometries(s.join_tiles, self.ctx.seed)
        geo["box_id"] = np.arange(len(geo), dtype=np.int32)
        self.boxes = geo
        self.points = inputs.points(geo, s.join_points, 0.1, self.ctx.seed)
        self.boxes_path, self.points_path = self.path("boxes"), self.path("points")
        _write(geo, pa.schema([("box_id", pa.int32())] + [
            (c, pa.float64()) for c in ("min_lon", "min_lat", "max_lon", "max_lat")]),
            self.boxes_path)
        _write(self.points, pa.schema([("point_id", pa.int64()), ("lon", pa.float64()),
                                       ("lat", pa.float64())]), self.points_path)
        self.props = {**inputs.point_properties(self.points),
                      "boxes": len(geo), "hot_box_share": round(float(geo["hot"].mean()), 4)}

    def oracle(self) -> None:
        self.expected = oracles.join_expected(self.points, self.boxes)

    def _sides(self):
        return self.spark.read.parquet(self.points_path), self.spark.read.parquet(self.boxes_path)

    def call(self):
        p, b = self._sides()
        return tuple(S.point_in_box_join(p, b, res=JOIN_RES).agg(
            F.count(F.lit(1)), F.sum("point_id"), F.sum("box_id"),
            F.sum(F.col("point_id") * F.col("box_id"))).collect()[0])

    def items(self, result) -> int:
        return self.ctx.sizes.join_points

    def check(self, result) -> list[str]:
        return oracles.check_join(result, self.expected)

    def layers(self, tr) -> dict:
        out: dict = {}
        p, b = self._sides()
        cover = b.select("box_id", "min_lon", "min_lat", "max_lon", "max_lat", F.explode(
            covering_cells_col(F.col("min_lon"), F.col("min_lat"), F.col("max_lon"),
                               F.col("max_lat"), JOIN_RES)).alias("_cell"))
        with tr.span("cells.cover"):
            cells, obs = _observed(cover, F.count(F.lit(1)).alias("n"))
            _noop(cells)
        out["cells.cell_rows"] = obs.get["n"]
        with tr.span("spatial_join.join") as s:
            pairs, obs = _observed(S.point_in_box_join(p, b, res=JOIN_RES),
                                   F.count(F.lit(1)).alias("n"))
            _noop(pairs)
        out["spatial_join.join_s"] = s["dur_s"]
        out["spatial_join.matches"] = obs.get["n"]
        pc = p.withColumn("_cell", cell_id_col(F.col("lon"), F.col("lat"), JOIN_RES))
        out["spatial_join.candidates"] = pc.join(cover.select("_cell"), "_cell").count()
        out["spatial_join.refine_hit_ratio"] = (out["spatial_join.matches"]
                                               / max(out["spatial_join.candidates"], 1))
        return out


# -------------------------------------------------------------- dedup
class DedupClusters(Workload):
    """near_duplicate_clusters over a seeded corpus with planted
    near-duplicate cliques of heavy-tailed size: MinHash signatures,
    band join, Jaccard verify and connected components."""

    name = "dedup_clusters"
    item = "docs"
    # Spark planning dominates this call and warms slowly: calls 2-6
    # still speed up by 5-20% each, then stay within a few %
    warmup_calls = 6

    def setup(self) -> None:
        self.docs, sizes = inputs.corpus(self.ctx.sizes.docs, self.ctx.seed)
        self.docs_path = self.path("docs")
        _write(self.docs, pa.schema([("doc_id", pa.int64()), ("text", pa.string())]),
               self.docs_path)
        self.props = inputs.corpus_properties(self.docs, sizes)

    def oracle(self) -> None:
        import __spark_entry__ as E
        self.expected = oracles.dedup_expected(self.docs, E.oracle_sql()["q23_minhash_near_dup"])

    def _docs(self):
        return self.spark.read.parquet(self.docs_path)

    def call(self):
        return [tuple(r) for r in
                D.near_duplicate_clusters(self._docs(), "doc_id", "text", **DEDUP).collect()]

    def items(self, result) -> int:
        return len(self.docs)

    def check(self, rows) -> list[str]:
        return oracles.check_clusters(rows, self.expected)

    def layers(self, tr) -> dict:
        out: dict = {}
        with tr.span("dedup.call") as s:
            self.call()
        out["dedup.spark_jobs"] = s["own_counters"]["jobs"]
        d = self._docs()
        with tr.span("dedup.signatures") as s:
            _noop(D.minhash_signatures(d, "doc_id", "text", k=DEDUP["k"]))
        out["dedup.signatures_s"] = s["dur_s"]
        cand_df = D.minhash_candidate_pairs(d, "doc_id", "text", k=DEDUP["k"],
                                            bands=DEDUP["bands"])
        c_path = self.path("layer-cand")
        cand_df.write.mode("overwrite").parquet(c_path)
        cand = self.spark.read.parquet(c_path)
        out["dedup.candidate_pairs"] = cand.count()
        with tr.span("dedup.verify") as s:
            ver, obs = _observed(D.jaccard_pairs(d, "doc_id", "text", DEDUP["threshold"],
                                                 candidates=cand),
                                 F.count(F.lit(1)).alias("n"))
            _noop(ver)
        out["dedup.verify_s"] = s["dur_s"]
        out["dedup.verified_pairs"] = obs.get["n"]
        out["dedup.verify_hit_ratio"] = (out["dedup.verified_pairs"]
                                        / max(out["dedup.candidate_pairs"], 1))
        v_path = self.path("layer-verified")
        D.jaccard_pairs(d, "doc_id", "text", DEDUP["threshold"], candidates=cand) \
            .write.mode("overwrite").parquet(v_path)
        with tr.span("dedup.cc") as s:
            cc = D.near_duplicate_clusters(d, "doc_id", "text",
                                           pairs=self.spark.read.parquet(v_path))
            labels = cc.collect()
        out["dedup.cc_s"] = s["dur_s"]
        out["dedup.clusters"] = len({r[1] for r in labels})
        return out


WORKLOADS = {w.name: w for w in (MosaicReproject, MosaicResume, TileJoin, DedupClusters)}
