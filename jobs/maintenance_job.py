"""Table maintenance job — the spark-submit surface for icelite's
Iceberg-style maintenance actions (compaction, snapshot expiry,
orphan GC, tagging), so operations teams run them on a schedule the
same way they run the data jobs.

Actions compose in the safe order: compact (new snapshot) -> tag ->
expire (honors tag pins) -> remove-orphans (references every
surviving snapshot). Prints ONE metrics JSON line.

    spark-submit --master local[16] --driver-memory 16g \
      --py-files dist/engine.zip jobs/maintenance_job.py \
      --table /data/images --compact --target-files 64 \
      --cluster-by year,min_lat --tag weekly-2026-08 \
      --expire-keep-last 3 --remove-orphans
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


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="icelite table path")
    ap.add_argument("--compact", action="store_true")
    ap.add_argument("--target-files", type=int, default=None)
    ap.add_argument("--cluster-by", default=None,
                    help="comma-separated sort columns for the rewrite")
    ap.add_argument("--tag", default=None)
    ap.add_argument("--expire-keep-last", type=int, default=None)
    ap.add_argument("--retain-hours", type=float, default=None,
                    help="retention window: snapshots younger than "
                         "this are kept regardless of --expire-keep-last")
    ap.add_argument("--remove-orphans", action="store_true")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from aef_mosaic_spark.sources.icelite import Icelite

    spark = SparkSession.builder.getOrCreate()
    t0 = time.time()
    t = Icelite(args.table)
    out: dict = {"table": args.table}
    if args.compact:
        cluster = args.cluster_by.split(",") if args.cluster_by else None
        out["compacted_snapshot"] = t.compact(
            spark, target_files=args.target_files, cluster_by=cluster)
        out["files_after_compact"] = len(t.data_files())
    if args.tag:
        out["tagged"] = {args.tag: t.tag(args.tag)}
    if args.expire_keep_last is not None:
        older = (int(args.retain_hours * 3_600_000)
                 if args.retain_hours is not None else None)
        out["expired"] = t.expire_snapshots(
            keep_last=args.expire_keep_last, older_than_ms=older)
    if args.remove_orphans:
        out["orphans_removed"] = len(t.remove_orphan_files())
    out["current_snapshot"] = t.current_snapshot_id()
    out["wall_s"] = round(time.time() - t0, 3)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
