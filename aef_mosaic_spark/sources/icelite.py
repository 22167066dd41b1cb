"""icelite — a minimal Iceberg-style table layer over Parquet.

No iceberg-spark-runtime jar / pyiceberg in the sandbox (SURVEY §7.0),
so this implements the subset the engine needs with Iceberg's
*semantics* and layout vocabulary:

- immutable data files under ``data/snap-<id>/``; a write never
  mutates visible state until its snapshot JSON is committed
  (write-temp, manifest-commit-last — snapshot isolation),
- ``metadata/manifest-<id>.json``: per-file partition values + row and
  byte counts (the per-partition lineage/metrics the north rule asks
  for),
- ``metadata/snap-<id>.json``: snapshot with parent pointer, live
  manifest list, summary, and engine properties (config_hash guard,
  reference src/checkpoint.rs:284-306). Its ATOMIC EXCLUSIVE CREATE
  (put-if-absent) is the commit point — POSIX hard-link or object-store
  conditional PUT, see sources/store.py,
- ``metadata/version-hint.text``: advisory cache of the current
  snapshot id; readers forward-scan from it for snap files committed
  by writers that crashed before refreshing the hint.

This mirrors the reference's checkpoint set + Zarr chunk store
(src/checkpoint.rs:40-67, src/io/zarr_writer.rs:339-380): a completed
chunk == a committed partition row; resume == anti-join against the
committed keys.
"""

from __future__ import annotations

import glob
import json
import os
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aef_mosaic_spark.sources.store import PosixStore


def _footer_stats(md) -> dict:
    """Per-column [min, max] from the parquet footer (int/float/str
    columns only) — Iceberg-style manifest column stats, so scans can
    prune whole files without opening them (reference relies on the
    spatial index for the same purpose, src/index/spatial_lookup.rs)."""
    stats: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                continue  # binary/decimal: not comparable as JSON
            name = col.path_in_schema
            if name in stats:
                stats[name][0] = min(stats[name][0], lo)
                stats[name][1] = max(stats[name][1], hi)
            else:
                stats[name] = [lo, hi]
    return stats


def _entry_overlaps(entry: dict, filters: dict) -> bool:
    """File-level pruning test: hive partition values + footer stats
    vs inclusive [lo, hi] ranges; unknown columns never prune."""
    for col, (lo, hi) in filters.items():
        pv = entry.get("partition", {}).get(col)
        if pv is not None:
            try:
                v = type(lo)(pv)
            except (TypeError, ValueError):
                continue
            if v < lo or v > hi:
                return False
            continue
        st = entry.get("stats", {}).get(col)
        if st is not None and (st[0] > hi or st[1] < lo):
            return False
    return True


class CommitConflictError(RuntimeError):
    """A concurrent writer committed the snapshot id this writer
    planned; the append did NOT become visible."""


def _manifest_entry(table_root: str, fp: str) -> dict:
    """One manifest entry from a parquet footer — runs on executors."""
    rel = os.path.relpath(fp, table_root)
    part = {}
    for seg in rel.split(os.sep):
        if "=" in seg and not seg.endswith(".parquet"):
            k, v = seg.split("=", 1)
            part[k] = v
    md = pq.read_metadata(fp)
    return {
        "path": rel,
        "partition": part,
        "rows": md.num_rows,
        "bytes": os.path.getsize(fp),
        "stats": _footer_stats(md),
    }


def _manifest_entries(spark: SparkSession, table_root: str,
                      paths: list[str]) -> list[dict]:
    """Footer stats for a file set, computed ON THE EXECUTORS (one
    small task per ~file); at a 100 TB commit (10^5-10^6 files) the
    driver only ships paths and collects the JSON-sized entry rows.
    Small commits stay on the driver: a local footer read is ~3 ms, so
    below ~64 files the Spark job's fixed overhead (~1.5 s measured)
    exceeds the work — the executor path is for the 10^3+-file
    regime."""
    if not paths:
        return []
    if len(paths) <= 64:
        return [_manifest_entry(table_root, p) for p in paths]
    sc = spark.sparkContext
    n_slices = min(len(paths), sc.defaultParallelism * 2)
    return (sc.parallelize(paths, n_slices)
            .map(lambda p: _manifest_entry(table_root, p))
            .collect())


class Icelite:
    def __init__(self, path: str, store=None):
        """`store` is the METADATA backend (commit protocol); default
        PosixStore. Data files are written/read by Spark directly at
        `path` — on a real object store that is s3a:// and the store
        backend is the conditional-PUT one (store.py docstring)."""
        self.path = path
        self.meta = os.path.join(path, "metadata")
        self.store = store or PosixStore()

    def _mpath(self, name: str) -> str:
        return os.path.join(self.meta, name)

    # ----------------------------------------------------------- state
    def exists(self) -> bool:
        return self.current_snapshot_id() is not None

    def current_snapshot_id(self) -> int | None:
        """Hint value, then forward-scan: a writer may have committed
        snap-N (the atomic create IS the commit) and crashed before
        refreshing the advisory hint. Normally 0-1 extra exists()."""
        try:
            sid = int(self.store.read_text(
                self._mpath("version-hint.text")).strip())
        except FileNotFoundError:
            sid = 0
        while self.store.exists(self._mpath(f"snap-{sid + 1}.json")):
            sid += 1
        return sid or None

    def snapshot(self, snap_id: int | None = None) -> dict | None:
        snap_id = snap_id if snap_id is not None else self.current_snapshot_id()
        if snap_id is None:
            return None
        return json.loads(self.store.read_text(
            self._mpath(f"snap-{snap_id}.json")))

    def properties(self) -> dict:
        s = self.snapshot()
        return s["properties"] if s else {}

    def data_files(self) -> list[dict]:
        """Live file entries {path, partition, rows, bytes} from the
        current snapshot's manifest list."""
        s = self.snapshot()
        if not s:
            return []
        out: list[dict] = []
        for m in s["manifests"]:
            out.extend(json.loads(
                self.store.read_text(self._mpath(m)))["entries"])
        return out

    # ----------------------------------------------------------- write
    def _commit(self, manifests: list[str], properties: dict, summary: dict,
                parent: int | None) -> int:
        """Optimistic concurrency (Iceberg-style): the commit point is
        the store's atomic put-if-absent of the COMPLETE snapshot file
        (POSIX hard-link / object-store conditional PUT). Two writers
        that both planned against parent N cannot both commit N+1 —
        exactly one create succeeds, the loser gets CommitConflictError
        and must re-plan against the new current snapshot. There is no
        'orphan' window: a snap file either exists fully committed or
        not at all, so an existing file is ALWAYS a winner, never
        superseded. The version hint is an advisory cache refreshed
        after the commit; readers forward-scan past a stale hint."""
        snap_id = (parent or 0) + 1
        snap = {
            "snapshot_id": snap_id,
            "parent_id": parent,
            "timestamp_ms": int(time.time() * 1000),
            "manifests": manifests,
            "properties": properties,
            "summary": summary,
        }
        if not self.store.put_if_absent(self._mpath(f"snap-{snap_id}.json"),
                                        json.dumps(snap, indent=1)):
            raise CommitConflictError(
                f"snapshot {snap_id} already committed by a concurrent "
                f"writer; re-read the table and retry")
        self.store.put(self._mpath("version-hint.text"), str(snap_id))
        return snap_id

    def append(self, df: DataFrame, partition_by: list[str] | None = None,
               properties: dict | None = None, summary: dict | None = None,
               compression: str = "zstd") -> int:
        """Write df as a new snapshot (parent = current). Data lands in
        a snapshot-private dir first; the snapshot JSON + version hint
        commit makes it visible (a crash mid-write leaves no visible
        change — the resume-safety invariant, SURVEY §7.3d).

        compression defaults to zstd, matching the reference's zstd-3
        chunk store (src/config.rs:427, src/main.rs:237-240) — ~1.9x
        smaller chunk files than snappy on the fixture mosaics at
        equal read-back speed (BENCH/BASELINE.md)."""
        parent = self.current_snapshot_id()
        snap_id = (parent or 0) + 1
        # uuid suffix: a crashed writer's orphan dir can never collide
        # with a retry (manifests, not directory listings, are the
        # source of truth; orphans are unreferenced garbage)
        data_dir = os.path.join(self.path, "data",
                                f"snap-{snap_id}-{uuid.uuid4().hex[:8]}")
        writer = df.write.mode("errorifexists").option("compression", compression)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)

        # listing is names-only; the per-file footer reads (the O(n)
        # I/O that bottlenecks a 10^5-file commit if done serially on
        # the driver) run as a Spark job on the executors
        paths = sorted(glob.glob(os.path.join(data_dir, "**", "*.parquet"),
                                 recursive=True))
        entries = _manifest_entries(df.sparkSession, self.path, paths)
        # uuid suffix: two writers racing for the same snapshot id must
        # not overwrite each other's manifest before the commit decides
        manifest_name = f"manifest-{snap_id}-{uuid.uuid4().hex[:8]}.json"
        self.store.put(self._mpath(manifest_name),
                       json.dumps({"snapshot_id": snap_id,
                                   "entries": entries}, indent=1))

        prev = self.snapshot(parent) if parent else None
        manifests = (prev["manifests"] if prev else []) + [manifest_name]
        props = dict(prev["properties"]) if prev else {}
        props.update(properties or {})
        summ = {
            "added_files": len(entries),
            "added_rows": sum(e["rows"] for e in entries),
            "added_bytes": sum(e["bytes"] for e in entries),
        }
        summ.update(summary or {})
        return self._commit(manifests, props, summ, parent)

    def overwrite(self, df: DataFrame, partition_by: list[str] | None = None,
                  properties: dict | None = None, summary: dict | None = None) -> int:
        """New snapshot whose manifest list drops all prior files
        (logical delete; old snapshots stay readable — time travel)."""
        parent = self.current_snapshot_id()
        if parent is not None:
            # commit an empty-manifest snapshot, then append on top
            self._commit([], self.properties(), {"operation": "overwrite"}, parent)
        return self.append(df, partition_by, properties, summary)

    def merge(self, spark: SparkSession, updates: DataFrame,
              key_cols: list[str], partition_by: list[str] | None = None,
              compression: str = "zstd",
              filters: dict | None = None,
              summary: dict | None = None,
              properties: dict | None = None) -> int:
        """Copy-on-write MERGE (Iceberg MERGE INTO semantics): rows
        whose key matches an `updates` row are replaced by it;
        unmatched update rows are inserted. Only the FILES that
        contain a matched key are rewritten — untouched files carry
        over into the new snapshot by manifest reference, and old
        snapshots stay readable (time travel). This is the repeated
        enrichment write path (caption fixes, dedup verdicts) over the
        10^12-row image table: the rewrite cost is proportional to the
        files hit, not the table.

        Scale notes: the affected-file discovery is a semi-join of the
        table against the distinct update keys, collecting only FILE
        PATHS (file-count-sized, like any Iceberg driver's scan plan);
        survivors are re-read via an anti-join on the same keys. Two
        concurrent merges race on the snapshot commit — the loser gets
        CommitConflictError and must re-plan (its rewrite may be stale).
        """
        from urllib.parse import unquote, urlparse

        parent = self.current_snapshot_id()
        if parent is None:
            return self.append(updates, partition_by,
                               properties=properties,
                               compression=compression)
        snap_id = parent + 1
        # filters={key: (lo, hi)} bounds the update keys: the affected-
        # file DISCOVERY scan then prunes on manifest stats and never
        # opens files outside the range (a clustered table — see
        # compact(cluster_by=) — makes this the dominant saving: a
        # merge touching one key range reads one key range)
        cur = (self.read(spark, filters=filters)
               .withColumn("_file", F.input_file_name()))
        upd_keys = updates.select(*key_cols).distinct()
        if filters:
            # Enforce the documented contract: every update key must
            # fall inside the pruning bounds, or a matching row living
            # in a pruned file is silently re-inserted (duplicate key).
            # One small agg over the (distinct) update keys — cheap
            # relative to the rewrite it guards. The contract is
            # filters on KEY columns only: a filter on a non-key
            # column can prune a file containing a matched key with
            # no bounds check possible, so refuse it outright.
            non_key = [c for c in filters if c not in upd_keys.columns]
            if non_key:
                raise ValueError(
                    f"merge(filters=) only accepts filters on key "
                    f"columns {list(upd_keys.columns)}; got non-key "
                    f"filter column(s) {non_key}, which could prune a "
                    f"file containing a matched key and silently "
                    f"duplicate it.")
            checked = [c for c in filters if c in upd_keys.columns]
            if checked:
                aggs = []
                for c in checked:
                    aggs += [F.min(c).alias(f"_lo_{c}"),
                             F.max(c).alias(f"_hi_{c}")]
                row = upd_keys.agg(*aggs).collect()[0]
                for c in checked:
                    lo, hi = filters[c]
                    ulo, uhi = row[f"_lo_{c}"], row[f"_hi_{c}"]
                    if ulo is None:
                        continue
                    if (lo is not None and ulo < lo) or \
                       (hi is not None and uhi > hi):
                        raise ValueError(
                            f"merge(filters=) pruning bound {c}=({lo}, {hi}) "
                            f"does not cover update keys [{ulo}, {uhi}]: a "
                            f"matched row in a pruned file would be silently "
                            f"duplicated. Widen the filter or drop it.")
        aff_files = [r["_file"] for r in
                     cur.join(upd_keys, key_cols, "leftsemi")
                     .select("_file").distinct().collect()]
        rel_aff = {
            os.path.relpath(unquote(urlparse(f).path), self.path)
            for f in aff_files
        }
        survivors = (
            cur.where(F.col("_file").isin(aff_files))
            .join(upd_keys, key_cols, "left_anti").drop("_file")
        )
        rewritten = survivors.unionByName(updates)

        data_dir = os.path.join(self.path, "data",
                                f"snap-{snap_id}-{uuid.uuid4().hex[:8]}")
        writer = (rewritten.write.mode("errorifexists")
                  .option("compression", compression))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        paths = sorted(glob.glob(os.path.join(data_dir, "**", "*.parquet"),
                                 recursive=True))
        entries = _manifest_entries(spark, self.path, paths)
        new_manifest = f"manifest-{snap_id}-{uuid.uuid4().hex[:8]}.json"
        self.store.put(self._mpath(new_manifest),
                       json.dumps({"snapshot_id": snap_id,
                                   "entries": entries}, indent=1))

        # manifest surgery: drop rewritten files from prior manifests
        # (untouched manifests carry over BY NAME — zero data movement)
        prev = self.snapshot(parent)
        manifests: list[str] = []
        for m in prev["manifests"]:
            man = json.loads(self.store.read_text(self._mpath(m)))
            keep = [e for e in man["entries"] if e["path"] not in rel_aff]
            if len(keep) == len(man["entries"]):
                manifests.append(m)
            elif keep:
                name = f"manifest-{snap_id}-{uuid.uuid4().hex[:8]}.json"
                self.store.put(self._mpath(name),
                               json.dumps({"snapshot_id": snap_id,
                                           "entries": keep}, indent=1))
                manifests.append(name)
            # fully-rewritten manifests are dropped
        manifests.append(new_manifest)
        summ = {
            "operation": "merge",
            "rewritten_files": len(rel_aff),
            "added_files": len(entries),
            "added_rows": sum(e["rows"] for e in entries),
            "added_bytes": sum(e["bytes"] for e in entries),
        }
        summ.update(summary or {})
        props = dict(prev["properties"])
        props.update(properties or {})
        return self._commit(manifests, props, summ, parent)

    def delete(self, spark: SparkSession, predicate: str,
               partition_by: list[str] | None = None,
               compression: str = "zstd") -> int:
        """Copy-on-write row-level DELETE: rows matching `predicate`
        (a SQL boolean expression over the table's columns) are
        removed; only the files that CONTAIN a matching row are
        rewritten, everything else carries over by manifest reference.
        Old snapshots keep the rows (time travel). The GDPR/erasure
        write path over the image table: cost is proportional to files
        hit, and manifest stats pruning on the predicate's key range
        keeps that set small if the table is sorted/partitioned on it."""
        from urllib.parse import unquote, urlparse

        parent = self.current_snapshot_id()
        if parent is None:
            raise FileNotFoundError(f"icelite table at {self.path} has no data")
        snap_id = parent + 1
        cur = self.read(spark).withColumn("_file", F.input_file_name())
        aff_files = [r["_file"] for r in
                     cur.where(predicate).select("_file").distinct().collect()]
        rel_aff = {
            os.path.relpath(unquote(urlparse(f).path), self.path)
            for f in aff_files
        }
        prev = self.snapshot(parent)
        if not rel_aff:
            # nothing matches: commit a no-op snapshot for audit
            return self._commit(list(prev["manifests"]), prev["properties"],
                                {"operation": "delete", "rewritten_files": 0,
                                 "deleted_rows": 0}, parent)
        survivors = (cur.where(F.col("_file").isin(aff_files))
                     .where(f"NOT ({predicate})").drop("_file"))

        entries: list[dict] = []
        new_manifest = None
        data_dir = os.path.join(self.path, "data",
                                f"snap-{snap_id}-{uuid.uuid4().hex[:8]}")
        writer = (survivors.write.mode("errorifexists")
                  .option("compression", compression))
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        paths = sorted(glob.glob(os.path.join(data_dir, "**", "*.parquet"),
                                 recursive=True))
        entries = _manifest_entries(spark, self.path, paths)
        if entries:
            new_manifest = f"manifest-{snap_id}-{uuid.uuid4().hex[:8]}.json"
            self.store.put(self._mpath(new_manifest),
                           json.dumps({"snapshot_id": snap_id,
                                       "entries": entries}, indent=1))

        manifests: list[str] = []
        rows_before = 0
        for m in prev["manifests"]:
            man = json.loads(self.store.read_text(self._mpath(m)))
            keep = [e for e in man["entries"] if e["path"] not in rel_aff]
            rows_before += sum(e["rows"] for e in man["entries"]
                               if e["path"] in rel_aff)
            if len(keep) == len(man["entries"]):
                manifests.append(m)
            elif keep:
                name = f"manifest-{snap_id}-{uuid.uuid4().hex[:8]}.json"
                self.store.put(self._mpath(name),
                               json.dumps({"snapshot_id": snap_id,
                                           "entries": keep}, indent=1))
                manifests.append(name)
        if new_manifest:
            manifests.append(new_manifest)
        summ = {
            "operation": "delete",
            "rewritten_files": len(rel_aff),
            "deleted_rows": rows_before - sum(e["rows"] for e in entries),
        }
        return self._commit(manifests, prev["properties"], summ, parent)

    def remove_orphan_files(self) -> list[str]:
        """Delete data files under the table root that no snapshot's
        manifests reference — the garbage left by crashed writers
        (append/merge write data BEFORE the snapshot commit; a crash
        in between leaves an unreferenced dir, by design). Returns the
        removed paths (table-relative). Production caveat, as with
        Iceberg's action: only run when no writer is mid-commit, or
        gate on file age — a LIVE writer's un-committed files look
        exactly like orphans."""
        referenced: set[str] = set()
        # Reachability roots: the current pointer AND every tag —
        # expire_snapshots cuts an expired parent out of a pinned
        # snapshot's chain, so a tag-pinned snapshot can be
        # disconnected from current; walking only the current chain
        # would GC its data files and break the tag-pin promise.
        roots = [self.current_snapshot_id(), *self.tags().values()]
        seen_manifests: set[str] = set()
        seen_snaps: set[int] = set()
        for root in roots:
            sid = root
            while sid and sid not in seen_snaps:
                seen_snaps.add(sid)
                s = self.snapshot(sid)
                for m in s["manifests"]:
                    if m in seen_manifests:
                        continue
                    seen_manifests.add(m)
                    man = json.loads(self.store.read_text(self._mpath(m)))
                    referenced.update(e["path"] for e in man["entries"])
                sid = s["parent_id"]
        removed: list[str] = []
        for fp in glob.glob(os.path.join(self.path, "data", "**", "*"),
                            recursive=True):
            if not os.path.isfile(fp):
                continue
            # Spark job markers (_SUCCESS, .crc) are never manifest
            # entries; leave committed snapshots' markers in place
            if os.path.basename(fp).startswith(("_", ".")):
                continue
            rel = os.path.relpath(fp, self.path)
            if rel not in referenced:
                os.remove(fp)
                removed.append(rel)
        # sweep now-empty snapshot dirs
        for d in sorted(glob.glob(os.path.join(self.path, "data", "*")),
                        reverse=True):
            if os.path.isdir(d) and not any(os.scandir(d)):
                os.rmdir(d)
        return sorted(removed)

    # ------------------------------------------------------------ read
    def read(self, spark: SparkSession, snapshot_id: int | None = None,
             filters: dict | None = None) -> DataFrame:
        """filters={col: (lo, hi)} enables manifest-level file pruning:
        files whose hive partition value or footer [min, max] stats are
        disjoint from every requested inclusive range are never opened
        (Iceberg-style scan planning). Rows are still exactly filtered
        by the caller's predicates; pruning only skips whole files."""
        s = self.snapshot(snapshot_id)
        if not s or not s["manifests"]:
            raise FileNotFoundError(f"icelite table at {self.path} has no data")
        return self._read_manifests(spark, s["manifests"], filters)

    def _read_manifests(self, spark: SparkSession, manifest_names: list[str],
                        filters: dict | None = None) -> DataFrame:
        # one read per snapshot data dir (so hive-style partition columns
        # are inferred), unioned by name — manifests are the file source
        # of truth, never a directory listing of the table root
        dfs = []
        schema_probe = None
        for m in manifest_names:
            man = json.loads(self.store.read_text(self._mpath(m)))
            entries = man["entries"]
            if entries and schema_probe is None:
                schema_probe = man  # any manifest with files, pre-pruning
            if filters:
                entries = [e for e in entries if _entry_overlaps(e, filters)]
            files = [os.path.join(self.path, e["path"]) for e in entries]
            if not files:
                continue
            # basePath = the snapshot data dir (first two segments of
            # the manifest-relative path), so hive partition columns
            # are inferred from the remainder
            snap_dir = os.path.join(*entries[0]["path"].split(os.sep)[:2])
            base = os.path.join(self.path, snap_dir)
            dfs.append(spark.read.option("basePath", base).parquet(*files))
        if not dfs:
            if filters and schema_probe is not None:
                # everything pruned: empty frame with the table schema
                e0 = schema_probe["entries"][0]
                snap_dir = os.path.join(*e0["path"].split(os.sep)[:2])
                probe = spark.read.option(
                    "basePath", os.path.join(self.path, snap_dir)
                ).parquet(os.path.join(self.path, e0["path"]))
                return probe.limit(0)
            raise FileNotFoundError(f"icelite table at {self.path} has no data files")
        out = dfs[0]
        for d in dfs[1:]:
            # allowMissingColumns: snapshots may have been written with
            # evolved schemas (added columns) — older files surface the
            # new columns as NULL, Iceberg's add-column semantics
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    def read_incremental(self, spark: SparkSession, from_snapshot_id: int,
                         to_snapshot_id: int | None = None,
                         filters: dict | None = None,
                         allow_rewrites: bool = False) -> DataFrame:
        """Rows ADDED strictly after `from_snapshot_id`, up to and
        including `to_snapshot_id` (default: current) — the Iceberg
        incremental append scan, the read side of exactly-once
        downstream pipelines: consumers remember the last snapshot
        they processed and only ever touch the new files.

        Only valid over an append-only snapshot range: if a manifest
        present at `from` is gone at `to` (overwrite/rollback rewrote
        history), the delta is not expressible as added files and we
        refuse, exactly as Iceberg's incremental read does for
        replace snapshots. Ancestry is validated by walking parent
        ids. Returns an empty frame (table schema) when no data was
        added. File pruning via `filters` works as in read().

        allow_rewrites=True relaxes the append-only refusal for
        KEY-level CDC consumers: across a MERGE, the added files also
        carry the rewritten survivors, so the result is a SUPERSET of
        the changed rows (Iceberg's changelog-with-carryover shape).
        Correct for consumers that recompute per distinct key
        (raster_job --incremental regions); NOT row-exact — never use
        it where each returned row is treated as new data."""
        to_id = (to_snapshot_id if to_snapshot_id is not None
                 else self.current_snapshot_id())
        if to_id is None:
            raise FileNotFoundError(f"icelite table at {self.path} has no data")
        # ancestry walk: from must be on to's parent chain (or 0 = genesis)
        cur: int | None = to_id
        while cur is not None and cur != from_snapshot_id:
            cur = self.snapshot(cur)["parent_id"]
        if cur != from_snapshot_id and from_snapshot_id != 0:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_id}; incremental read undefined")
        from_s = self.snapshot(from_snapshot_id) if from_snapshot_id else None
        to_s = self.snapshot(to_id)
        base = set(from_s["manifests"]) if from_s else set()
        if not base <= set(to_s["manifests"]) and not allow_rewrites:
            raise ValueError(
                f"snapshots {from_snapshot_id}..{to_id} include an "
                f"overwrite; the delta is not append-only (pass "
                f"allow_rewrites=True for key-level superset CDC)")
        new = [m for m in to_s["manifests"] if m not in base]
        if not new:
            return self.read(spark, to_id).limit(0)
        return self._read_manifests(spark, new, filters)

    def completed_keys(self, spark: SparkSession, key_cols: list[str],
                       filters: dict | None = None) -> DataFrame:
        """Distinct committed partition keys; an existing-but-empty
        table (e.g. an incremental band that produced no chunks) is a
        valid state and yields an empty keys frame, not an error.
        filters prune manifest files before any read (see read())."""
        try:
            return self.read(spark, filters=filters) \
                .select(*key_cols).distinct()
        except FileNotFoundError:
            return spark.createDataFrame(
                [], ", ".join(f"{c} int" for c in key_cols))

    def scan_files(self, filters: dict) -> list[dict]:
        """Manifest entries a filtered read would open (pruning probe)."""
        return [e for e in self.data_files() if _entry_overlaps(e, filters)]

    def lineage(self) -> list[dict]:
        """Per-partition lineage: every live file with partition values
        + row/byte counts + the snapshot that added it."""
        out = []
        s = self.snapshot()
        for m in (s["manifests"] if s else []):
            man = json.loads(self.store.read_text(self._mpath(m)))
            for e in man["entries"]:
                out.append({**e, "snapshot_id": man["snapshot_id"]})
        return out

    # ----------------------------------------------------- maintenance
    def compact(self, spark: SparkSession, partition_by: list[str] | None = None,
                target_files: int | None = None,
                cluster_by: list[str] | None = None) -> int:
        """Rewrite all live data into one snapshot (small-file
        compaction after many incremental appends — e.g. the streaming
        patch table). Old snapshots stay readable until expired.

        cluster_by: range-partition + sort the rewrite on these
        columns (Iceberg's rewrite_data_files with a sort order). Each
        output file then covers a NARROW value range, so the footer
        [min, max] stats in the new manifest make read(filters=) prune
        most files — the data-layout half of scan planning. For 2-D
        spatial keys pass a space-filling-curve column (grid.hilbert_d)
        as the cluster key."""
        df = self.read(spark)
        if cluster_by:
            n = target_files or df.rdd.getNumPartitions()
            df = (df.repartitionByRange(n, *cluster_by)
                  .sortWithinPartitions(*cluster_by))
        elif target_files:
            df = df.coalesce(target_files)
        return self.overwrite(df, partition_by=partition_by,
                              properties=self.properties(),
                              summary={"operation": "compact",
                                       "cluster_by": cluster_by or []})

    # ------------------------------------------------------------ tags
    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Named immutable ref to a snapshot (Iceberg tag): the commit
        is the store's put-if-absent of the tag file, so two writers
        cannot both claim a name. Tags pin snapshots for reproducible
        training runs ('the corpus as of dataset-v3') independent of
        the moving current pointer."""
        if not name or any(c in name for c in "/\\"):
            raise ValueError(f"invalid tag name {name!r}")
        sid = (snapshot_id if snapshot_id is not None
               else self.current_snapshot_id())
        if sid is None or not self.store.exists(self._mpath(f"snap-{sid}.json")):
            raise FileNotFoundError(f"no snapshot {sid} to tag")
        if not self.store.put_if_absent(self._mpath(f"tag-{name}.json"),
                                        json.dumps({"snapshot_id": sid})):
            raise CommitConflictError(f"tag {name!r} already exists")
        return sid

    def tags(self) -> dict[str, int]:
        out = {}
        for p in self.store.list(self.meta, "tag-*.json"):
            base = os.path.basename(p)
            out[base[len("tag-"):-len(".json")]] = json.loads(
                self.store.read_text(p))["snapshot_id"]
        return out

    def read_tag(self, spark: SparkSession, name: str,
                 filters: dict | None = None) -> DataFrame:
        tags = self.tags()
        if name not in tags:
            raise FileNotFoundError(f"no tag {name!r}")
        return self.read(spark, snapshot_id=tags[name], filters=filters)

    def expire_snapshots(self, keep_last: int = 1,
                         older_than_ms: int | None = None) -> dict:
        """Drop all but the newest `keep_last` snapshots: their JSONs,
        manifests not referenced by survivors, and data files no
        surviving manifest references (physical delete — time travel
        beyond the horizon is gone, like Iceberg's expire_snapshots).

        older_than_ms: additionally RETAIN any snapshot committed
        within the last `older_than_ms` milliseconds (Iceberg's
        retention window) — expiry then removes only snapshots that
        are BOTH beyond keep_last AND older than the window."""
        sid = self.current_snapshot_id()
        chain = []
        while sid:
            chain.append(sid)
            sid = self.snapshot(sid)["parent_id"]
        keep = set(chain[:keep_last])
        if older_than_ms is not None:
            cutoff = int(time.time() * 1000) - older_than_ms
            keep |= {s for s in chain
                     if self.snapshot(s).get("timestamp_ms", 0) >= cutoff}
        # tagged snapshots are pinned (Iceberg semantics): a tag is a
        # promise that the snapshot stays readable until the tag goes
        keep |= {sid for sid in self.tags().values() if sid in set(chain)}
        live_manifests: set[str] = set()
        for s in keep:
            live_manifests |= set(self.snapshot(s)["manifests"])
        live_files: set[str] = set()
        for m in live_manifests:
            live_files |= {e["path"] for e in json.loads(
                self.store.read_text(self._mpath(m)))["entries"]}
        removed = {"snapshots": 0, "manifests": 0, "data_files": 0}
        for s in chain[keep_last:]:
            if s in keep:  # tag-pinned
                continue
            self.store.delete(self._mpath(f"snap-{s}.json"))
            removed["snapshots"] += 1
        for m in self.store.list(self.meta, "manifest-*.json"):
            if os.path.basename(m) not in live_manifests:
                self.store.delete(m)
                removed["manifests"] += 1
        for fp in glob.glob(os.path.join(self.path, "data", "**", "*.parquet"),
                            recursive=True):
            if os.path.relpath(fp, self.path) not in live_files:
                os.remove(fp)
                removed["data_files"] += 1
        # kept snapshots whose parents were expired get their parent
        # pointer cut (tags can pin non-contiguous snapshots)
        for sid in keep:
            snap = self.snapshot(sid)
            if snap["parent_id"] is not None and snap["parent_id"] not in keep:
                snap["parent_id"] = None
                self.store.put(self._mpath(f"snap-{sid}.json"),
                               json.dumps(snap, indent=1))
        return removed

    def rollback(self, to_snapshot_id: int) -> int:
        """Commit a NEW snapshot whose state is `to_snapshot_id`'s
        manifest list (Iceberg rollback semantics: history is never
        rewritten — the bad snapshots stay readable until expired,
        and the rollback itself is an auditable commit)."""
        target = self.snapshot(to_snapshot_id)
        if target is None:
            raise FileNotFoundError(f"no snapshot {to_snapshot_id}")
        return self._commit(
            target["manifests"], target["properties"],
            {"operation": "rollback", "to_snapshot_id": to_snapshot_id},
            self.current_snapshot_id())

    def history(self) -> list[dict]:
        out = []
        sid = self.current_snapshot_id()
        while sid:
            s = self.snapshot(sid)
            out.append({"snapshot_id": sid, "summary": s["summary"],
                        "timestamp_ms": s.get("timestamp_ms")})
            sid = s["parent_id"]
        return out

    # --------------------------------------------------- metadata tables
    def metadata_df(self, spark: SparkSession, kind: str) -> DataFrame:
        """Iceberg-style metadata tables as DataFrames (the
        `SELECT * FROM tbl.files / tbl.snapshots / tbl.history`
        surface): inspectable with the same engine that reads data.

        kind='files'     -> (path, snapshot_id, rows, bytes, partition
                             as JSON string) for every LIVE file
        kind='snapshots' -> (snapshot_id, parent_id, timestamp_ms,
                             operation, added_files, added_rows)
        kind='history'   -> current lineage chain, newest first
        """
        import pandas as pd

        if kind == "files":
            rows = [{
                "path": e["path"],
                "snapshot_id": e["snapshot_id"],
                "rows": e["rows"], "bytes": e["bytes"],
                "partition": json.dumps(e["partition"], sort_keys=True),
            } for e in self.lineage()]
            schema = ("path string, snapshot_id long, rows long, "
                      "bytes long, partition string")
        elif kind in ("snapshots", "history"):
            hist = self.history()
            rows = [{
                "snapshot_id": h["snapshot_id"],
                "parent_id": self.snapshot(h["snapshot_id"])["parent_id"],
                "timestamp_ms": h["timestamp_ms"],
                "operation": str(h["summary"].get("operation", "append")),
                "added_files": int(h["summary"].get("added_files", 0)),
                "added_rows": int(h["summary"].get("added_rows", 0)),
            } for h in hist]
            schema = ("snapshot_id long, parent_id long, timestamp_ms long, "
                      "operation string, added_files long, added_rows long")
        else:
            raise ValueError(f"unknown metadata table {kind!r}")
        if not rows:
            return spark.createDataFrame([], schema)
        return spark.createDataFrame(pd.DataFrame(rows), schema)
