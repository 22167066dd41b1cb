"""Structured Streaming: watermarked windows over the events stream
match the batch equivalents; incremental (streamed) mosaic ingestion
is bit-identical to the one-shot batch mosaic."""

import pytest
from pyspark.sql import functions as F

from aef_mosaic_spark import generator
from aef_mosaic_spark.grid import OutputGrid
from aef_mosaic_spark.operators import mosaic as M
from aef_mosaic_spark.streaming import events as SE
from aef_mosaic_spark.streaming import ingest as SI

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    # split events into 3 files so the stream has multiple microbatches
    d = tmp_path_factory.mktemp("events_stream")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    ev.repartition(3).write.mode("overwrite").parquet(str(d / "in"))
    return str(d / "in")


def test_tumbling_counts_match_batch(spark, event_dir):
    stream = SE.read_event_stream(spark, event_dir)
    q = SE.run_to_memory(SE.tumbling_counts(stream), "tumbling_t")
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM tumbling_t").collect()
    }
    ev = spark.read.parquet(event_dir)
    want = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
        .collect()
    }
    assert got == want
    q.stop()


def test_session_windows_run(spark, event_dir):
    stream = SE.read_event_stream(spark, event_dir)
    q = SE.run_to_memory(SE.session_windows(stream), "sessions_t")
    rows = spark.sql("SELECT * FROM sessions_t").collect()
    assert rows and all(r.n_events > 0 for r in rows)
    assert all(r.session_end >= r.session_start for r in rows)
    q.stop()


def test_incremental_mosaic_matches_batch(spark, tmp_path):
    grid = OutputGrid(
        bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
        crs="EPSG:32610", resolution=10.0, years=(2023, 2024),
        num_bands=3, chunk_h=256, chunk_w=256,
    )
    pdf = generator.images_pdf(30)
    images = spark.createDataFrame(pdf, schema=generator.IMAGE_SCHEMA)
    # batch reference
    want = {
        (r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
        for r in M.mosaic(images, grid, mode="mean").collect()
    }
    # stream the same tiles in 3 files -> patches table -> compact
    in_dir = str(tmp_path / "in")
    images.repartition(3).write.parquet(in_dir)
    stream = SI.read_image_stream(spark, in_dir)
    SI.stream_patches_to_table(stream, grid, str(tmp_path / "patches"),
                               str(tmp_path / "ckpt"))
    got = {
        (r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
        for r in SI.compact_chunks(spark, str(tmp_path / "patches"), grid).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], k


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg with a 2h watermark: an event arriving
    a day late (far below the advanced watermark) is dropped — its
    window never materializes in the sink."""
    import pandas as pd

    d = str(tmp_path / "late_in")
    base = pd.Timestamp("2024-01-02 10:00:00")
    batch1 = pd.DataFrame({
        "event_id": [1, 2, 3],
        "ts": [base, base + pd.Timedelta("30min"), base + pd.Timedelta("2h")],
        "user_id": [1, 1, 2], "event_type": ["a", "a", "b"],
        "value": [1.0, 2.0, 3.0], "props": ["{}", "{}", "{}"],
    })
    late = pd.DataFrame({  # ~1 day late vs the advanced watermark
        "event_id": [4, 5],
        "ts": [pd.Timestamp("2024-01-01 06:00:00"), base + pd.Timedelta("3h")],
        "user_id": [3, 2], "event_type": ["a", "b"],
        "value": [9.0, 4.0], "props": ["{}", "{}"],
    })
    schema = SE.EVENT_SCHEMA
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(d)

    # explicit batch separation: drain batch1 (advances the watermark
    # to max(ts) - 2h = 10:00), THEN deliver the late file
    stream = SE.read_event_stream(spark, d, max_files_per_trigger=10)
    agg = SE.tumbling_counts(stream, window="1 hour", watermark="2 hours")
    q = (agg.writeStream.format("memory").queryName("late_t")
         .outputMode("append").start())
    q.processAllAvailable()
    spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(d)
    q.processAllAvailable()
    rows = spark.sql("SELECT * FROM late_t").collect()
    starts = {r.window_start for r in rows}
    # the late 2024-01-01 06:00 window must be absent
    assert pd.Timestamp("2024-01-01 06:00:00") not in {
        pd.Timestamp(s) for s in starts}
    # finalized on-time windows are present (watermark advanced past them)
    assert any(pd.Timestamp(s) == base.floor("h") for s in starts)
    q.stop()


def test_stream_sink_is_idempotent_on_batch_id(spark, tmp_path):
    """A replayed microbatch (crash after snapshot commit, before the
    stream checkpoint records the batch) must NOT double-append its
    patch rows — the sink dedups on batch_id (ADVICE r1)."""
    from aef_mosaic_spark.sources.icelite import Icelite

    grid = OutputGrid(
        bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
        crs="EPSG:32610", resolution=10.0, years=(2023, 2024),
        num_bands=3, chunk_h=256, chunk_w=256,
    )
    images = spark.createDataFrame(generator.images_pdf(10),
                                   schema=generator.IMAGE_SCHEMA)
    table = Icelite(str(tmp_path / "patches"))
    sink = SI.make_patch_sink(table, grid)
    sink(images, 0)
    n1 = table.read(spark).count()
    assert n1 > 0
    sink(images, 0)          # replay of batch 0: must be a no-op
    assert table.read(spark).count() == n1
    assert len(table.history()) == 1
    sink(images, 1)          # a genuinely new batch still appends
    assert table.read(spark).count() == 2 * n1
    assert SI.applied_batch_ids(table) == {0, 1}


def test_incremental_chunk_refresh(spark, tmp_path):
    """Materialized-view maintenance: refresh recomposites ONLY chunks
    touched by new patch snapshots; latest_chunks equals the one-shot
    batch mosaic after each refresh."""
    from aef_mosaic_spark.sources.icelite import Icelite

    grid = OutputGrid(
        bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
        crs="EPSG:32610", resolution=10.0, years=(2023, 2024),
        num_bands=3, chunk_h=256, chunk_w=256,
    )
    pdf = generator.images_pdf(30)
    pt_path, ct_path = str(tmp_path / "patches"), str(tmp_path / "chunks")
    table = Icelite(pt_path)
    sink = SI.make_patch_sink(table, grid)

    first = spark.createDataFrame(pdf.iloc[:20], schema=generator.IMAGE_SCHEMA)
    sink(first, 0)
    m1 = SI.refresh_chunks(spark, pt_path, ct_path, grid, mode="mean")
    assert m1["refreshed_chunks"] > 0
    want1 = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
             for r in M.mosaic(first, grid, mode="mean").collect()}
    got1 = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
            for r in SI.latest_chunks(spark, ct_path).collect()}
    assert got1 == want1

    # late batch touches only its own chunks
    late = spark.createDataFrame(pdf.iloc[20:], schema=generator.IMAGE_SCHEMA)
    sink(late, 1)
    m2 = SI.refresh_chunks(spark, pt_path, ct_path, grid, mode="mean")
    late_keys = {(r.time_idx, r.row_idx, r.col_idx) for r in
                 M.assignments(late, grid).select(
                     "time_idx", "row_idx", "col_idx").distinct().collect()}
    assert m2["refreshed_chunks"] == len(late_keys) < len(want1) + len(late_keys)
    full = spark.createDataFrame(pdf, schema=generator.IMAGE_SCHEMA)
    want = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
            for r in M.mosaic(full, grid, mode="mean").collect()}
    got = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
           for r in SI.latest_chunks(spark, ct_path).collect()}
    assert got == want

    # no new patches -> no-op
    m3 = SI.refresh_chunks(spark, pt_path, ct_path, grid, mode="mean")
    assert m3["refreshed_chunks"] == 0


def test_streaming_stateful_mosaic_matches_batch(spark, tmp_path):
    """Continuous compositor (applyInPandasWithState, keyed chunk
    accumulators): after the stream drains, the latest emitted chunk
    per key is bit-exact with the one-shot batch mosaic."""
    from aef_mosaic_spark.streaming.stateful import streaming_mosaic_mean

    grid = OutputGrid(
        bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
        crs="EPSG:32610", resolution=10.0, years=(2023, 2024),
        num_bands=3, chunk_h=256, chunk_w=256,
    )
    pdf = generator.images_pdf(24)
    images = spark.createDataFrame(pdf, schema=generator.IMAGE_SCHEMA)
    want = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
            for r in M.mosaic(images, grid, mode="mean").collect()}

    in_dir = str(tmp_path / "in")
    images.repartition(3).write.parquet(in_dir)
    stream = SI.read_image_stream(spark, in_dir)
    patches = M.reproject_patches(stream, grid)
    q = (streaming_mosaic_mean(patches, grid)
         .writeStream.format("memory").queryName("live_chunks")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    # memory sink in update mode appends each emission; latest per key
    # = the row from the highest batch (use max n_patches as version)
    rows = spark.sql("""
        SELECT * FROM (
          SELECT *, row_number() OVER (
            PARTITION BY time_idx, row_idx, col_idx
            ORDER BY n_patches DESC) AS rk
          FROM live_chunks) WHERE rk = 1""").collect()
    got = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk) for r in rows}
    assert got == want


def test_streaming_cluster_maintenance_matches_batch(spark, tmp_path):
    """Document stream -> per-microbatch incremental cluster update:
    the final assignment must equal the one-shot batch recompute over
    the full corpus, and a replayed batch_id must be a no-op (sink
    idempotence)."""
    from aef_mosaic_spark.operators.dedup import near_duplicate_clusters
    from aef_mosaic_spark.sources.icelite import Icelite
    from aef_mosaic_spark.streaming.dedup_stream import (
        make_cluster_sink, stream_clusters_to_table,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    in_dir = str(tmp_path / "docs_in")
    docs.repartition(3).write.parquet(in_dir)

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    clusters = stream_clusters_to_table(
        stream, str(tmp_path / "corpus"), str(tmp_path / "clusters"),
        str(tmp_path / "ckpt"), threshold=0.8)

    got = {r.doc_id: r.cluster_id for r in clusters.read(spark).collect()}
    want = {r.doc_id: r.cluster_id for r in near_duplicate_clusters(
        docs, "doc_id", "text", threshold=0.8).collect()}
    assert got == want
    # several assignment versions exist (time travel over dedup state)
    n_snaps = len(clusters.history())
    assert n_snaps >= 3
    # replaying an applied batch_id is a no-op on both tables
    corpus = Icelite(str(tmp_path / "corpus"))
    replayed_bid = next(h["summary"]["batch_id"]
                        for h in clusters.history()
                        if "batch_id" in h["summary"])
    sink = make_cluster_sink(corpus, clusters, "doc_id", "text",
                             threshold=0.8)
    sink(docs.limit(5), replayed_bid)
    assert len(clusters.history()) == n_snaps
    assert {r.doc_id: r.cluster_id
            for r in clusters.read(spark).collect()} == want


def test_streaming_clusters_with_persisted_band_index(spark, tmp_path):
    """Same stream drained WITH the persisted band-row index: per-batch
    banding appends only the batch's rows (O(batch), the 10^12-doc
    shape) and the final assignment still equals the batch recompute."""
    from aef_mosaic_spark.operators.dedup import (
        minhash_band_rows, near_duplicate_clusters,
    )
    from aef_mosaic_spark.sources.icelite import Icelite
    from aef_mosaic_spark.streaming.dedup_stream import stream_clusters_to_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    in_dir = str(tmp_path / "docs_in")
    docs.repartition(3).write.parquet(in_dir)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    clusters = stream_clusters_to_table(
        stream, str(tmp_path / "corpus"), str(tmp_path / "clusters"),
        str(tmp_path / "ckpt"), threshold=0.8,
        bands_path=str(tmp_path / "bands"))
    got = {r.doc_id: r.cluster_id for r in clusters.read(spark).collect()}
    want = {r.doc_id: r.cluster_id for r in near_duplicate_clusters(
        docs, "doc_id", "text", threshold=0.8).collect()}
    assert got == want
    # the persisted index equals a fresh full banding (same rows)
    bands_tbl = Icelite(str(tmp_path / "bands"))
    idx = {(r.id, r.band_idx, r.band_val)
           for r in bands_tbl.read(spark).collect()}
    fresh = {(r.id, r.band_idx, r.band_val)
             for r in minhash_band_rows(docs, "doc_id", "text").collect()}
    assert idx == fresh
    # one bands snapshot per microbatch (append-only increments)
    assert len(bands_tbl.history()) >= 3


def test_streaming_hll_matches_batch_registers(spark, tmp_path):
    """Register max is associative+commutative+idempotent, so the
    drained streaming HLL state must equal the batch sketch REGISTER
    FOR REGISTER — and therefore give the identical estimate — for
    any batching of the same arrivals (duplicates included)."""
    from aef_mosaic_spark.functions.sketches import (hll_estimate,
                                                     hll_registers)
    from aef_mosaic_spark.streaming.stateful import streaming_hll_registers

    rows = [(f"k{(i * 7) % 3}", f"v{i % 400}") for i in range(1000)]
    batch = spark.createDataFrame(rows, "k string, v string")
    want = {(r.k, r.j): r.r
            for r in hll_registers(batch, ["k"], "v", p=8).collect()}
    want_est = {r.k: r.approx_distinct
                for r in hll_estimate(hll_registers(batch, ["k"], "v", p=8),
                                      ["k"], p=8).collect()}

    in_dir = str(tmp_path / "in")
    batch.repartition(5).write.parquet(in_dir)     # multiple microbatches
    stream = (spark.readStream.schema("k string, v string")
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    q = (streaming_hll_registers(stream, "k", "v", p=8)
         .writeStream.format("memory").queryName("hll_live")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows_out = spark.sql("""
        SELECT * FROM (
          SELECT *, row_number() OVER (
            PARTITION BY k ORDER BY n_seen DESC) AS rk
          FROM hll_live) WHERE rk = 1""").collect()
    got = {}
    for r in rows_out:
        for j, reg in enumerate(r.regs):
            if reg:
                got[(r.k, j)] = reg
    assert got == want
    # same registers -> same estimate through the shared estimator
    import pandas as pd
    reg_rows = [{"k": k, "j": j, "r": v} for (k, j), v in got.items()]
    est = {r.k: r.approx_distinct
           for r in hll_estimate(
               spark.createDataFrame(pd.DataFrame(reg_rows)),
               ["k"], p=8).collect()}
    assert est == want_est


def test_streaming_hotspot_cells_match_batch_gi_star(spark, tmp_path):
    """The hotspot lattice is a streaming-maintainable aggregate:
    per-cell counts groupBy'd over a file stream (update mode, three
    microbatches) must equal the batch bin_cells table register for
    register, and the Gi* computed from the streamed lattice must
    equal the batch q168 output row for row."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from aef_mosaic_spark.operators.spatial_stats import (
        bin_cells, getis_ord_hotspots)

    rng = np.random.RandomState(13)
    d = str(tmp_path / "pts")
    import os
    os.makedirs(d)
    all_rows = []
    for part in range(3):
        pdf = pd.DataFrame({
            "point_id": np.arange(part * 500, part * 500 + 500),
            "lon": rng.uniform(-40, 40, 500),
            "lat": rng.uniform(-30, 30, 500)})
        spark.createDataFrame(pdf).coalesce(1) \
            .write.parquet(f"{d}/p{part}")
        all_rows.append(pdf)
    batch = spark.createDataFrame(pd.concat(all_rows))

    stream = (spark.readStream
              .schema("point_id long, lon double, lat double")
              .option("maxFilesPerTrigger", 1)
              .parquet(f"{d}/p*"))
    cells_stream = bin_cells(stream, 8)
    q = (cells_stream.writeStream.format("memory")
         .queryName("hot_cells_live").outputMode("complete")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    live = {(r.cx, r.cy): r.x
            for r in spark.sql("SELECT * FROM hot_cells_live").collect()}
    exact = {(r.cx, r.cy): r.x for r in bin_cells(batch, 8).collect()}
    assert live == exact and len(live) > 20

    # Gi* over the streamed lattice == batch q168, row for row
    live_pts_free = spark.createDataFrame(
        pd.DataFrame([(cx, cy, x) for (cx, cy), x in live.items()],
                     columns=["cx", "cy", "x"]))
    # recompute Gi* from the lattice by feeding one synthetic point
    # per unit of count through the batch operator's exact law is
    # equivalent to running it on the original points; use the
    # original points directly as the reference
    got = sorted(tuple(r) for r in getis_ord_hotspots(batch).collect())
    # ... and from a reconstruction of the stream (one point per
    # count placed in its cell) to prove the lattice is sufficient
    recon_rows = []
    pid = 0
    for (cx, cy), x in live.items():
        for j in range(int(x)):
            recon_rows.append((pid, cx * 8 + 0.5 + (j % 3) * 0.9,
                               cy * 8 + 0.5 + (j % 2) * 0.7))
            pid += 1
    recon = spark.createDataFrame(
        pd.DataFrame(recon_rows, columns=["point_id", "lon", "lat"]))
    got2 = sorted(tuple(r) for r in getis_ord_hotspots(recon).collect())
    assert got == got2
