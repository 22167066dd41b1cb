"""icelite sink + resumable MosaicJob: snapshot isolation, config-hash
guard, anti-join resume idempotence (SURVEY §7.2 M4; reference
checkpoint semantics src/checkpoint.rs:74-158)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from aef_mosaic_spark import generator
from aef_mosaic_spark.grid import OutputGrid
from aef_mosaic_spark.plans.backfill import TokenBucket
from aef_mosaic_spark.plans.pipeline import KEYS, MosaicJob, config_hash
from aef_mosaic_spark.sources.icelite import Icelite


@pytest.fixture
def grid():
    return OutputGrid(
        bounds=(499000.0, 4095000.0, 509240.0, 4105240.0),
        crs="EPSG:32610", resolution=10.0, years=(2023, 2024),
        num_bands=3, chunk_h=256, chunk_w=256,
    )


def test_icelite_append_read_lineage(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    df = spark.range(100).withColumn("p", (F.col("id") % 3).cast("int"))
    s1 = t.append(df, partition_by=["p"], properties={"k": "v"})
    assert s1 == 1 and t.exists()
    back = t.read(spark)
    assert back.count() == 100
    assert set(back.columns) == {"id", "p"}
    lin = t.lineage()
    assert sum(e["rows"] for e in lin) == 100
    assert all(e["bytes"] > 0 and "p" in e["partition"] for e in lin)
    # append accumulates
    t.append(df.limit(10), partition_by=["p"])
    assert t.read(spark).count() == 110
    assert t.properties()["k"] == "v"
    assert [h["snapshot_id"] for h in t.history()] == [2, 1]


def test_icelite_overwrite_and_time_travel(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(5))
    t.overwrite(spark.range(7))
    assert t.read(spark).count() == 7
    assert t.read(spark, snapshot_id=1).count() == 5  # time travel


def test_mosaic_job_end_to_end(spark, tmp_path, grid):
    images = spark.createDataFrame(generator.images_pdf(40))
    job = MosaicJob(grid, mode="mean")
    m = job.run(spark, images, str(tmp_path / "out"))
    assert m["chunks_written"] > 0 and m["tiles_per_sec"] > 0
    assert os.path.exists(tmp_path / "out" / f"metrics-{m['snapshot_id']}.json")
    table = Icelite(str(tmp_path / "out"))
    chunks = table.read(spark)
    assert chunks.count() == m["chunks_written"]
    # partition column survived the partitioned layout
    assert {r.time_idx for r in chunks.select("time_idx").distinct().collect()} <= {0, 1}


def test_resume_is_idempotent_and_guarded(spark, tmp_path, grid):
    pdf = generator.images_pdf(40)
    images = spark.createDataFrame(pdf)
    job = MosaicJob(grid, mode="mean")
    out_full = str(tmp_path / "full")
    job.run(spark, images, out_full)
    full = {
        (r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
        for r in Icelite(out_full).read(spark).collect()
    }

    # simulate a killed run: only half the tiles made it in run 1
    out_res = str(tmp_path / "resumed")
    half = spark.createDataFrame(pdf.iloc[: len(pdf) // 2])
    job.run(spark, half, out_res)
    t = Icelite(out_res)
    n_first = t.read(spark).count()
    assert 0 < n_first

    # wrong config must be refused
    other = MosaicJob(grid, mode="last")
    with pytest.raises(ValueError, match="config_hash"):
        other.run(spark, images, out_res, resume=True)
    # without resume flag, refuse to clobber
    with pytest.raises(FileExistsError):
        job.run(spark, images, out_res)

    # resume with the full input completes the remaining chunks only
    m2 = job.run(spark, images, out_res, resume=True)
    assert m2["previously_completed"] == n_first
    resumed = {
        (r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
        for r in t.read(spark).collect()
    }
    # every chunk key present exactly once overall
    assert set(resumed) == set(full)
    # chunks completed in run 2 (not touched by run 1's partial input)
    # must be byte-identical to the single-shot run
    done_first = {
        (r.time_idx, r.row_idx, r.col_idx)
        for r in t.read(spark, snapshot_id=1).select(*KEYS).collect()
    }
    identical = [k for k in full if k not in done_first]
    assert identical, "resume run should have added chunks"
    for k in identical:
        assert resumed[k] == full[k]

    # a second resume with everything complete writes nothing new
    m3 = job.run(spark, images, out_res, resume=True)
    assert m3["chunks_written"] == 0


def test_config_hash_stability(grid):
    """Pinned digests: resume compares this hash with the one a table
    was committed with, so any change to the payload orphans every
    existing table."""
    assert config_hash(grid, "mean") == (
        "fdb1a6deffd6d93b9bd0297c3f5488e93f268b3a54f127af0102b384a44229f4")
    assert config_hash(grid, "last") == (
        "c9a3cd98d6f20ccf10ee90075a7611400f86694307854620e6bb667d088572cc")


def test_analyze(spark, grid):
    images = spark.createDataFrame(generator.images_pdf(40))
    rep = MosaicJob(grid).analyze(spark, images)
    assert rep["chunks_with_data"] > 0
    assert rep["chunks_with_data"] + rep["empty_chunks"] == rep["total_chunks"]
    assert rep["max_tiles_per_chunk"] >= rep["avg_tiles_per_chunk"] > 0
    # ETA cost model (reference src/main.rs:243-247)
    assert rep["input_tiles"] > 0 and rep["input_bytes"] > 0
    assert rep["est_seconds_at_rate"] == round(rep["input_bytes"] / 1e8, 3)


def test_orphan_data_dir_does_not_block_retry(spark, tmp_path):
    # a crashed writer leaves uncommitted files under data/; a retry
    # must neither collide with them nor read them (verified live with
    # kill -9 of spark-submit mid-write; see BENCH/BASELINE.md)
    t = Icelite(str(tmp_path / "t"))
    orphan = tmp_path / "t" / "data" / "snap-1-deadbeef" / "p=0"
    orphan.mkdir(parents=True)
    (orphan / "part-00000.parquet").write_bytes(b"garbage from a crashed run")
    t.append(spark.range(7))
    assert t.read(spark).count() == 7  # orphan invisible
    assert t.current_snapshot_id() == 1


def test_compact_and_expire(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    for i in range(4):  # 4 incremental appends -> many small files
        t.append(spark.range(i * 10, (i + 1) * 10)
                 .withColumn("p", (F.col("id") % 2).cast("int")),
                 partition_by=["p"])
    assert t.read(spark).count() == 40
    n_files_before = len(t.data_files())
    t.compact(spark, partition_by=["p"], target_files=1)
    assert t.read(spark).count() == 40
    assert len(t.data_files()) < n_files_before
    # expire everything but the compacted snapshot
    removed = t.expire_snapshots(keep_last=1)
    assert removed["snapshots"] >= 4 and removed["data_files"] > 0
    assert t.read(spark).count() == 40  # live data intact
    import glob as g
    live = {e["path"] for e in t.data_files()}
    on_disk = {os.path.relpath(p, str(tmp_path / "t"))
               for p in g.glob(str(tmp_path / "t" / "data" / "**" / "*.parquet"),
                               recursive=True)}
    assert on_disk == live  # no dead files remain


def test_resume_reprojects_only_pending_chunks(spark, grid):
    """The todo work-list must reach the patch kernel: on resume, the
    emitted patch rows are EXACTLY the pending chunks' patches — a
    partially-done (straddling) tile does not re-reproject its
    committed chunks (VERDICT r1 'What's wrong' #4)."""
    from aef_mosaic_spark.operators import mosaic as M

    images = spark.createDataFrame(generator.images_pdf(40))
    job = MosaicJob(grid, mode="mean")
    full = M.reproject_patches(images, grid) \
        .groupBy(*KEYS).count().collect()
    all_keys = {(r.time_idx, r.row_idx, r.col_idx): r["count"] for r in full}
    assert len(all_keys) > 3
    # mark roughly half the chunks as done
    done_keys = sorted(all_keys)[: len(all_keys) // 2]
    done = spark.createDataFrame(
        [{"time_idx": t, "row_idx": r, "col_idx": c} for t, r, c in done_keys])
    pend = M.reproject_patches(job.pending_tiles(images, done), grid) \
        .groupBy(*KEYS).count().collect()
    got = {(r.time_idx, r.row_idx, r.col_idx): r["count"] for r in pend}
    want = {k: v for k, v in all_keys.items() if k not in set(done_keys)}
    assert got == want


def test_incremental_commits_and_crash_resume(spark, tmp_path, grid):
    """run_incremental: K row-band snapshots; a crash between bands
    loses at most one band (reference checkpoint.rs:184-239 periodic
    flush). Final table must be byte-identical to the single-shot run."""
    images = spark.createDataFrame(generator.images_pdf(40))
    job = MosaicJob(grid, mode="mean")

    out_full = str(tmp_path / "full")
    job.run(spark, images, out_full)
    full = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
            for r in Icelite(out_full).read(spark).collect()}

    # "crash" after the first band: run only band 0 of 2
    out_inc = str(tmp_path / "inc")
    rows = grid.chunk_rows
    m0 = job.run(spark, images, out_inc, row_range=(0, rows // 2 - 1))
    assert 0 < m0["chunks_written"] < len(full)
    t = Icelite(out_inc)
    assert t.snapshot()["summary"]["row_range"] == [0, rows // 2 - 1]

    # resume the whole incremental run: band 0 re-checks (0 new
    # chunks), band 1 completes fresh
    m = job.run_incremental(spark, images, out_inc, groups=2, resume=True)
    assert m["previously_completed"] == m0["chunks_written"]
    assert m["chunks_written"] == len(full) - m0["chunks_written"]
    got = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
           for r in t.read(spark).collect()}
    assert got == full

    # fresh incremental run end-to-end also matches, with K snapshots
    out_inc2 = str(tmp_path / "inc2")
    m2 = job.run_incremental(spark, images, out_inc2, groups=2)
    assert m2["groups"] == 2 and m2["previously_completed"] == 0
    got2 = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
            for r in Icelite(out_inc2).read(spark).collect()}
    assert got2 == full
    assert len(Icelite(out_inc2).history()) == 2

    # a paced, all-complete resume reports the unpaced run's keys; the
    # unpaced run slept 0 s
    paced = job.run_incremental(
        spark, images, out_inc2, groups=2, resume=True,
        bucket=TokenBucket(1e12, sleep=lambda s: None))
    assert paced.keys() == m2.keys() and m2["slept_s"] == 0
    assert paced["chunks_written"] == 0
    assert paced["previously_completed"] == len(full)


def test_progress_reporter_and_write_rate(spark, tmp_path, grid):
    """Periodic reporter (reference metrics.rs:204-234) + per-stage
    time attribution + write MB/s in the metrics dict."""
    images = spark.createDataFrame(generator.images_pdf(40))
    lines = []
    import aef_mosaic_spark.plans.progress as prog

    orig = prog.ProgressReporter.__init__

    def patched(self, spark_, interval_s=10.0, sink=print):
        orig(self, spark_, interval_s=0.2, sink=lines.append)

    prog.ProgressReporter.__init__ = patched
    try:
        m = MosaicJob(grid).run(spark, images, str(tmp_path / "out"),
                                progress_interval_s=0.2)
    finally:
        prog.ProgressReporter.__init__ = orig
    assert "stage_seconds" in m and "stage_pct" in m
    assert m["write_mb_per_sec"] > 0
    # the compositor stage runs >1 s at this size, so the 0.2 s poll
    # must have caught at least one active stage
    assert lines and all(ln.startswith("[progress]") for ln in lines)


def test_manifest_stats_prune_files(spark, tmp_path):
    """Iceberg-style scan planning: manifests record per-column
    [min,max] footer stats; read(filters=...) skips files whose stats
    (or hive partition value) are disjoint from the range."""
    t = Icelite(str(tmp_path / "t"))
    df = spark.range(100).selectExpr(
        "CAST(id % 4 AS INT) AS p", "CAST(id AS INT) AS row_idx",
        "id * 2 AS v")
    t.append(df.repartition("p"), partition_by=["p"])
    ents = t.data_files()
    assert all("stats" in e and "row_idx" in e["stats"] for e in ents)
    # row_idx stats overlap across p-partitions (round-robin ids), so
    # prune on the partition column value instead:
    pruned = t.scan_files({"p": (1, 2)})
    assert 0 < len(pruned) < len(ents)
    assert {e["partition"]["p"] for e in pruned} == {"1", "2"}
    got = t.read(spark, filters={"p": (1, 2)})
    assert got.count() == 50 and set(
        r.p for r in got.select("p").distinct().collect()) == {1, 2}
    # stats-based pruning: append a second snapshot with a disjoint
    # row_idx range, unpartitioned -> only footer stats can prune it
    t.append(spark.range(1000, 1100).selectExpr(
        "CAST(5 AS INT) AS p", "CAST(id AS INT) AS row_idx", "id * 2 AS v"))
    hi = t.scan_files({"row_idx": (1000, 1100)})
    assert all(e["stats"]["row_idx"][0] >= 1000 for e in hi)
    assert len(hi) < len(t.data_files())
    # fully-pruned scan returns an empty frame with the right schema
    none = t.read(spark, filters={"row_idx": (10**6, 10**6 + 1)})
    assert none.count() == 0 and "row_idx" in none.columns


def test_concurrent_commit_conflict_detected(spark, tmp_path):
    """Optimistic concurrency: a writer that planned against a stale
    parent must get CommitConflictError, not silently clobber the
    winner. The commit point is the atomic put-if-absent of the snap
    file itself, so an existing snap file is ALWAYS a committed winner
    (no orphan-supersede path — that path could clobber a live writer,
    ADVICE r2 #1); a stale version hint is just a cache miss that
    current_snapshot_id() forward-scans past."""
    from aef_mosaic_spark.sources.icelite import CommitConflictError

    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(5))  # snapshot 1
    # simulate a LOSING concurrent writer: winner committed snapshot 2
    t.append(spark.range(3))
    loser = Icelite(str(tmp_path / "t"))
    with pytest.raises(CommitConflictError):
        loser._commit([], {}, {}, parent=1)  # stale parent -> snap 2 taken
    assert t.read(spark).count() == 8  # winner intact
    # a writer that committed snap-3 but crashed BEFORE refreshing the
    # hint: its commit is durable — readers forward-scan past the hint
    t._commit(t.snapshot()["manifests"], t.properties(),
              {"operation": "test-commit"}, parent=2)
    t.store.put(str(tmp_path / "t" / "metadata" / "version-hint.text"), "2")
    assert t.current_snapshot_id() == 3
    # and the next append plans against 3 (never supersedes it)
    t.append(spark.range(2))
    assert t.current_snapshot_id() == 4
    assert t.read(spark).count() == 10


def test_memory_object_store_race_and_protocol(tmp_path):
    """The same commit protocol over the conditional-PUT fake object
    store: a winner that lands at the worst possible moment (inside the
    loser's conditional PUT window) must force CommitConflictError on
    the loser, never a silent clobber; both writers can never both
    report success for the same snapshot id."""
    import json as _json

    from aef_mosaic_spark.sources.icelite import CommitConflictError
    from aef_mosaic_spark.sources.store import MemoryObjectStore

    store = MemoryObjectStore()
    t = Icelite(str(tmp_path / "obj"), store=store)
    sid = t._commit(["manifest-1-aaaa.json"], {}, {"op": "seed"}, parent=None)
    store.put(t._mpath("manifest-1-aaaa.json"),
              _json.dumps({"snapshot_id": 1, "entries": []}))
    assert sid == 1 and t.current_snapshot_id() == 1

    # interleave the winner INSIDE the loser's conditional PUT
    winner_snap = {"snapshot_id": 2, "parent_id": 1,
                   "manifests": ["manifest-1-aaaa.json"],
                   "properties": {}, "summary": {"winner": True}}

    def _winner_lands(objects):
        objects[t._mpath("snap-2.json")] = _json.dumps(winner_snap)

    store.on_put = _winner_lands
    with pytest.raises(CommitConflictError):
        t._commit(["manifest-1-aaaa.json"], {}, {"winner": False}, parent=1)
    # the winner's snapshot is intact, hint forward-scan sees it
    assert t.current_snapshot_id() == 2
    assert t.snapshot()["summary"] == {"winner": True}
    # loser re-plans against the new current snapshot and succeeds
    assert t._commit(t.snapshot()["manifests"], {}, {"retry": True},
                     parent=2) == 3


def test_rollback(spark, tmp_path):
    """Rollback = a new auditable commit restoring an old snapshot's
    file list; the rolled-back snapshot stays readable (time travel)."""
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(5))           # snap 1
    t.append(spark.range(100, 103))    # snap 2 (the "bad" append)
    assert t.read(spark).count() == 8
    s = t.rollback(1)                  # snap 3 == snap 1's state
    assert s == 3 and t.read(spark).count() == 5
    assert t.read(spark, snapshot_id=2).count() == 8  # still readable
    assert t.snapshot()["summary"]["operation"] == "rollback"
    # appends continue from the rolled-back state
    t.append(spark.range(7, 9))
    assert t.read(spark).count() == 7


def test_manifest_entries_computed_on_executors_match_footers(spark, tmp_path):
    """A many-file commit's manifest (rows/bytes/stats collected via a
    Spark job on the executors) must be identical to reading every
    footer directly — and entries stay path-sorted/deterministic."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from aef_mosaic_spark.sources.icelite import _footer_stats

    t = Icelite(str(tmp_path / "many"))
    df = spark.range(0, 4000).selectExpr(
        "id", "CAST(id % 7 AS INT) AS grp", "id * 2 AS val")
    t.append(df.repartition(24), partition_by=["grp"])
    entries = t.data_files()
    assert len(entries) > 64  # past the driver fast-path threshold
    assert [e["path"] for e in entries] == sorted(e["path"] for e in entries)
    assert sum(e["rows"] for e in entries) == 4000
    for e in entries:
        fp = str(tmp_path / "many" / e["path"])
        md = _pq.read_metadata(fp)
        assert e["rows"] == md.num_rows
        assert e["bytes"] == os.path.getsize(fp)
        assert e["stats"] == _footer_stats(md)
        assert e["partition"]["grp"] == fp.split("grp=")[1].split("/")[0]
    # read-back through the manifest equals the input
    assert t.read(spark).count() == 4000


def test_process_years_split_matches_full_run(spark, tmp_path, grid):
    """Multi-VM year slicing (reference src/lib.rs:104-136): two runs
    committing process_years={2023} then {2024} into one table must be
    byte-identical to the single full run; slices are disjoint in
    time_idx, composable with row_range, and a wrong year is refused."""
    images = spark.createDataFrame(generator.images_pdf(40))
    job = MosaicJob(grid, mode="mean")

    out_full = str(tmp_path / "full")
    job.run(spark, images, out_full)
    full = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
            for r in Icelite(out_full).read(spark).collect()}
    times = {k[0] for k in full}
    assert times == {0, 1}  # both years present in the fixture input

    out_split = str(tmp_path / "split")
    m23 = job.run(spark, images, out_split, process_years=(2023,))
    t = Icelite(out_split)
    assert t.snapshot()["summary"]["process_years"] == [2023]
    assert m23["chunks_written"] == sum(1 for k in full if k[0] == 0)
    # "VM 2": same table, resume=True (the table exists), other year;
    # its slice is untouched -> fused fresh path (0 previously done)
    m24 = job.run(spark, images, out_split, resume=True,
                  process_years=(2024,))
    assert m24["previously_completed"] == 0
    got = {(r.time_idx, r.row_idx, r.col_idx): bytes(r.chunk)
           for r in t.read(spark).collect()}
    assert got == full

    # composable with row_range: a (year, row-band) cell commits alone
    out_cell = str(tmp_path / "cell")
    rows = grid.chunk_rows
    mc = job.run(spark, images, out_cell, process_years=(2023,),
                 row_range=(0, rows // 2 - 1))
    want_cell = {k for k in full if k[0] == 0 and k[1] <= rows // 2 - 1}
    got_cell = {(r.time_idx, r.row_idx, r.col_idx)
                for r in Icelite(out_cell).read(spark).collect()}
    assert got_cell == want_cell and mc["chunks_written"] == len(want_cell)

    # a year outside the grid is a config error, not silence
    with pytest.raises(ValueError, match="process_years"):
        job.run(spark, images, str(tmp_path / "bad"), process_years=(2022,))


def test_metadata_plane_fully_store_backed(spark, tmp_path):
    """Read/lineage/history/scan must touch metadata ONLY through the
    store backend: mirror a table's metadata into the in-memory object
    store, point Icelite at it (data files stay on the local data
    plane, as s3a paths would for Spark), and verify everything works
    — including manifest-level file pruning. A residual os.open in any
    metadata path would fail this test."""
    import glob as _glob

    from aef_mosaic_spark.sources.store import MemoryObjectStore

    t = Icelite(str(tmp_path / "t"))
    df = spark.range(100).selectExpr("id", "CAST(id % 4 AS INT) AS part",
                                     "id * 3 AS v")
    t.append(df, partition_by=["part"])
    t.append(spark.range(100, 150).selectExpr(
        "id", "CAST(id % 4 AS INT) AS part", "id * 3 AS v"),
        partition_by=["part"])

    mem = MemoryObjectStore()
    for fp in _glob.glob(str(tmp_path / "t" / "metadata" / "*")):
        mem.put(fp, open(fp).read())
    # remove nothing on disk: the memory store is the ONLY metadata
    # source the new handle is allowed to use
    m = Icelite(str(tmp_path / "t"), store=mem)
    assert m.current_snapshot_id() == 2
    assert m.read(spark).count() == 150
    assert len(m.history()) == 2
    assert sum(e["rows"] for e in m.lineage()) == 150
    # manifest pruning still works through the store
    pruned = m.scan_files(filters={"part": (0, 0)})
    assert pruned and all(e["partition"]["part"] == "0" for e in pruned)
    # and a commit through the store conflicts correctly
    from aef_mosaic_spark.sources.icelite import CommitConflictError
    with pytest.raises(CommitConflictError):
        m._commit([], {}, {}, parent=1)


def test_read_incremental_append_only_delta(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(0, 10))                       # snap 1
    t.append(spark.range(100, 105))                    # snap 2
    t.append(spark.range(200, 202))                    # snap 3
    # delta after snap 1 -> rows of snaps 2+3 only
    got = sorted(r["id"] for r in t.read_incremental(spark, 1).collect())
    assert got == list(range(100, 105)) + [200, 201]
    # bounded range: (1, 2]
    got12 = sorted(r["id"] for r in
                   t.read_incremental(spark, 1, to_snapshot_id=2).collect())
    assert got12 == list(range(100, 105))
    # from genesis = full table
    assert t.read_incremental(spark, 0).count() == 17
    # empty delta: same snapshot -> empty frame with the table schema
    empty = t.read_incremental(spark, 3)
    assert empty.count() == 0 and empty.columns == ["id"]


def test_read_incremental_exactly_once_consumer(spark, tmp_path):
    # the consumer loop: remember last snapshot, process only deltas;
    # union of deltas == full table, no row seen twice
    t = Icelite(str(tmp_path / "t"))
    seen: list[int] = []
    last = 0
    for lo in (0, 50, 90):
        t.append(spark.range(lo, lo + 10))
        cur = t.current_snapshot_id()
        seen += [r["id"] for r in t.read_incremental(spark, last).collect()]
        last = cur
    assert sorted(seen) == sorted(r["id"] for r in t.read(spark).collect())
    assert len(seen) == len(set(seen)) == 30


def test_read_incremental_refuses_overwrite_range(spark, tmp_path):
    import pytest

    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(5))                            # snap 1
    t.overwrite(spark.range(7))                         # snaps 2 (empty) + 3
    with pytest.raises(ValueError, match="overwrite"):
        t.read_incremental(spark, 1)
    # but a delta AFTER the overwrite is fine again
    t.append(spark.range(100, 103))                     # snap 4
    got = sorted(r["id"] for r in t.read_incremental(spark, 3).collect())
    assert got == [100, 101, 102]


def test_read_incremental_with_file_pruning(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(0, 10).withColumn("p", (F.col("id") % 2).cast("int")),
             partition_by=["p"])
    t.append(spark.range(10, 20).withColumn("p", (F.col("id") % 2).cast("int")),
             partition_by=["p"])
    got = t.read_incremental(spark, 1, filters={"p": (1, 1)})
    rows = got.collect()
    assert all(r["p"] == 1 for r in rows)
    assert sorted(r["id"] for r in rows) == [11, 13, 15, 17, 19]


def test_merge_copy_on_write_upsert(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(i, f"cap {i}", i % 4) for i in range(40)],
        "image_id long, caption string, b int")
    # two snapshots so the table spans several files/manifests
    t.append(base.where("image_id < 20").repartition(4))
    t.append(base.where("image_id >= 20").repartition(4))
    files_before = {e["path"] for e in t.data_files()}

    upd = spark.createDataFrame(
        [(3, "FIXED 3", 3), (25, "FIXED 25", 1), (99, "NEW 99", 0)],
        "image_id long, caption string, b int")
    s = t.merge(spark, upd, ["image_id"])
    assert s == 3

    got = {r["image_id"]: r["caption"] for r in t.read(spark).collect()}
    assert len(got) == 41                      # 40 rows + 1 insert
    assert got[3] == "FIXED 3" and got[25] == "FIXED 25"
    assert got[99] == "NEW 99"
    assert got[4] == "cap 4"                   # untouched row intact

    # copy-on-write: only files containing keys 3/25 were replaced
    files_after = {e["path"] for e in t.data_files()}
    carried = files_before & files_after
    assert carried, "untouched files must carry over by reference"
    assert files_before - files_after, "hit files must be rewritten"

    # time travel: the parent snapshot still shows the old captions
    old = {r["image_id"]: r["caption"]
           for r in t.read(spark, snapshot_id=2).collect()}
    assert old[3] == "cap 3" and 99 not in old
    # summary records the rewrite scope
    assert t.snapshot()["summary"]["operation"] == "merge"
    assert t.snapshot()["summary"]["rewritten_files"] >= 1


def test_merge_pure_insert_and_empty_table(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    upd = spark.createDataFrame([(1, "a")], "k long, v string")
    t.merge(spark, upd, ["k"])                 # empty table -> append
    assert t.read(spark).count() == 1
    files_1 = {e["path"] for e in t.data_files()}
    # no key overlap -> no file rewritten, pure insert
    t.merge(spark, spark.createDataFrame([(2, "b")], "k long, v string"),
            ["k"])
    assert {r["k"] for r in t.read(spark).collect()} == {1, 2}
    assert files_1 <= {e["path"] for e in t.data_files()}


def test_delete_copy_on_write(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    df = spark.createDataFrame([(i, i % 5) for i in range(50)],
                               "id long, g int")
    t.append(df.repartition(5))
    files_before = {e["path"] for e in t.data_files()}
    s = t.delete(spark, "g = 2")
    assert s == 2
    got = sorted(r["id"] for r in t.read(spark).collect())
    assert got == [i for i in range(50) if i % 5 != 2]
    assert t.snapshot()["summary"]["deleted_rows"] == 10
    # time travel keeps the deleted rows
    assert t.read(spark, snapshot_id=1).count() == 50
    # untouched/rewritten file split exists (repartition(5) spreads g
    # values, so typically all files are hit — assert the mechanism
    # via a targeted second delete on a fresh single-value partition)
    t2 = Icelite(str(tmp_path / "t2"))
    a = spark.createDataFrame([(i, 0) for i in range(10)], "id long, g int")
    b = spark.createDataFrame([(i, 1) for i in range(10, 20)], "id long, g int")
    t2.append(a.coalesce(1)); t2.append(b.coalesce(1))
    before = {e["path"] for e in t2.data_files()}
    t2.delete(spark, "g = 1 AND id >= 15")
    after = {e["path"] for e in t2.data_files()}
    assert (before & after), "file without matches must carry over"
    assert t2.read(spark).count() == 15
    # no-match delete commits an auditable no-op
    s0 = t2.delete(spark, "g = 99")
    assert t2.snapshot()["summary"]["rewritten_files"] == 0
    assert t2.read(spark, snapshot_id=s0).count() == 15


def test_remove_orphan_files(spark, tmp_path):
    import os
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(10))
    t.append(spark.range(10, 20))
    # fake a crashed writer: an un-committed data dir + stray file
    orphan_dir = tmp_path / "t" / "data" / "snap-99-deadbeef"
    orphan_dir.mkdir(parents=True)
    (orphan_dir / "part-00000.parquet").write_bytes(b"junk")
    removed = t.remove_orphan_files()
    assert removed == [os.path.join("data", "snap-99-deadbeef",
                                    "part-00000.parquet")]
    assert not orphan_dir.exists()          # empty dir swept
    # every committed row still readable, incl. time travel
    assert t.read(spark).count() == 20
    assert t.read(spark, snapshot_id=1).count() == 10


def test_schema_evolution_add_column(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append(spark.createDataFrame([(2, "b", 9.5)],
                                   "id long, v string, score double"))
    got = {r["id"]: r for r in t.read(spark).collect()}
    assert set(t.read(spark).columns) == {"id", "v", "score"}
    assert got[1]["score"] is None          # old rows NULL-fill
    assert got[2]["score"] == 9.5


def test_tags_pin_snapshots_through_expiry(spark, tmp_path):
    import pytest

    from aef_mosaic_spark.sources.icelite import CommitConflictError
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(5))                    # snap 1
    t.tag("dataset-v1")
    t.append(spark.range(5, 9))                 # snap 2
    t.append(spark.range(9, 12))                # snap 3
    assert t.tags() == {"dataset-v1": 1}
    assert sorted(r["id"] for r in
                  t.read_tag(spark, "dataset-v1").collect()) == [0, 1, 2, 3, 4]
    with pytest.raises(CommitConflictError):
        t.tag("dataset-v1", snapshot_id=2)      # names are immutable
    # expiry keeps the tagged snapshot alive, drops the untagged middle
    removed = t.expire_snapshots(keep_last=1)
    assert removed["snapshots"] == 1            # only snap 2 went
    assert t.read_tag(spark, "dataset-v1").count() == 5
    assert t.read(spark).count() == 12
    with pytest.raises(FileNotFoundError):
        t.read(spark, snapshot_id=2)


def test_orphan_gc_keeps_tag_pinned_files(spark, tmp_path):
    # Regression: tag -> compact -> expire cuts the pinned snapshot
    # out of the current parent chain (its parent pointer is severed),
    # so an orphan sweep rooted only at `current` would GC the tagged
    # snapshot's data files and break read_tag with PATH_NOT_FOUND.
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(20).repartition(4))        # snap 1
    t.tag("dataset-v1")
    t.compact(spark, target_files=1)                # snap 2: new files
    t.append(spark.range(20, 25))                   # snap 3
    removed = t.expire_snapshots(keep_last=1)
    assert removed["snapshots"] >= 1                # snap 2 expired
    swept = t.remove_orphan_files()
    assert swept == []                              # nothing is orphaned
    assert sorted(r["id"] for r in
                  t.read_tag(spark, "dataset-v1").collect()) == list(range(20))
    assert t.read(spark).count() == 25


def test_compact_cluster_by_tightens_stats(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    # interleaved appends: every file spans the whole key range
    df = spark.range(1000).selectExpr("id", "id % 7 AS k")
    t.append(df.repartition(8))
    wide = t.data_files()
    spans_before = [e["stats"]["id"][1] - e["stats"]["id"][0]
                    for e in wide if "id" in e.get("stats", {})]
    t.compact(spark, target_files=8, cluster_by=["id"])
    narrow = t.data_files()
    spans_after = [e["stats"]["id"][1] - e["stats"]["id"][0]
                   for e in narrow if "id" in e.get("stats", {})]
    assert max(spans_after) < max(spans_before) / 2
    # pruning now hits a fraction of the files
    pruned = t.scan_files({"id": (10, 20)})
    assert 0 < len(pruned) < len(narrow)
    assert t.read(spark, filters={"id": (10, 20)}).where(
        "id BETWEEN 10 AND 20").count() == 11


def test_merge_with_filter_pruned_discovery(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(1000).selectExpr("id", "'v' || id AS v")
             .repartition(1))
    t.compact(spark, target_files=8, cluster_by=["id"])
    upd = spark.createDataFrame([(42, "FIXED")], "id long, v string")
    t.merge(spark, upd, ["id"], filters={"id": (42, 42)})
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert len(got) == 1000 and got[42] == "FIXED" and got[41] == "v41"
    # the clustered layout means only ONE file was rewritten
    assert t.snapshot()["summary"]["rewritten_files"] == 1
    # the pruning contract is ENFORCED: an update key outside the
    # filter bounds would silently duplicate (old row in a pruned
    # file + new insert), so merge refuses instead
    import pytest
    bad = spark.createDataFrame([(900, "OUT")], "id long, v string")
    before = t.current_snapshot_id()
    with pytest.raises(ValueError, match="does not cover update keys"):
        t.merge(spark, bad, ["id"], filters={"id": (0, 100)})
    assert t.current_snapshot_id() == before    # nothing committed
    # a filter on a NON-KEY column is refused outright: no bounds
    # check is possible, and it can prune a file holding a matched
    # key (silent duplicate) — the contract is key-column filters only
    ok = spark.createDataFrame([(42, "AGAIN")], "id long, v string")
    with pytest.raises(ValueError, match="non-key filter column"):
        t.merge(spark, ok, ["id"], filters={"v": ("a", "z")})
    assert t.current_snapshot_id() == before


def test_maintenance_job_composes_actions(spark, tmp_path):
    import contextlib
    import io
    import json

    from jobs.maintenance_job import main
    t = Icelite(str(tmp_path / "t"))
    for lo in (0, 100, 200, 300):
        t.append(spark.range(lo, lo + 50).selectExpr("id"), )
    # a PRE-EXISTING tag pinning an old snapshot must survive the full
    # compact -> tag -> expire -> remove-orphans schedule (the ADVICE
    # r3 bug: orphan GC walked only the current chain and deleted the
    # disconnected pinned snapshot's data files)
    t.tag("v0", snapshot_id=1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--table", str(tmp_path / "t"), "--compact",
                   "--target-files", "2", "--cluster-by", "id",
                   "--tag", "weekly", "--expire-keep-last", "1",
                   "--remove-orphans"])
    assert rc == 0
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert m["compacted_snapshot"] == 6       # 4 appends + overwrite pair
    assert m["files_after_compact"] == 2
    assert m["tagged"]["weekly"] == 6
    assert m["expired"]["snapshots"] >= 3     # untagged history gone
    assert m["orphans_removed"] == 0          # expiry already deleted data
    assert t.read(spark).count() == 200
    assert t.read_tag(spark, "weekly").count() == 200
    assert sorted(r["id"] for r in t.read_tag(spark, "v0").collect()) \
        == list(range(50))


def test_snapshot_timestamps_and_age_expiry(spark, tmp_path):
    import time as _time
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(3))                    # old snapshot
    # age it artificially: rewrite its timestamp into the past
    import json as _json
    s1 = _json.loads(t.store.read_text(t._mpath("snap-1.json")))
    s1["timestamp_ms"] -= 10_000_000
    t.store.put(t._mpath("snap-1.json"), _json.dumps(s1))
    t.append(spark.range(3, 6))                 # fresh snapshot
    assert all(h["timestamp_ms"] for h in t.history())
    # retention window keeps the fresh one even beyond keep_last
    removed = t.expire_snapshots(keep_last=0, older_than_ms=3_600_000)
    assert removed["snapshots"] == 1            # only the aged snap 1
    assert t.read(spark).count() == 6           # current data intact


def test_metadata_tables(spark, tmp_path):
    t = Icelite(str(tmp_path / "t"))
    t.append(spark.range(10).withColumn("p", (F.col("id") % 2).cast("int")),
             partition_by=["p"])
    t.append(spark.range(10, 15))
    files = t.metadata_df(spark, "files")
    assert files.count() == len(t.data_files())
    assert {r["snapshot_id"] for r in files.collect()} == {1, 2}
    snaps = t.metadata_df(spark, "snapshots").orderBy("snapshot_id").collect()
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[1]["parent_id"] == 1 and snaps[0]["parent_id"] is None
    assert all(s["operation"] == "append" and s["added_rows"] > 0
               for s in snaps)
    # metadata tables answer real questions with plain SQL
    files.createOrReplaceTempView("tfiles")
    small = spark.sql(
        "SELECT count(*) AS n FROM tfiles WHERE bytes < 1024").collect()[0]
    assert small["n"] >= 0
