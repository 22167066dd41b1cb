"""spark-submit entry point for the mosaic pipeline (north rule: the
whole job runs via `spark-submit --py-files dist/engine.zip` at two
cluster sizes).

  spark-submit --master local[8]  --py-files dist/engine.zip \\
      jobs/mosaic_job.py --generate 1200 --output /tmp/out --resume

On a real cluster the same invocation takes --master yarn/k8s and the
images come from an existing table (--images-dir) instead of the
deterministic generator.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")  # see aef_mosaic_spark.session

# direct `python jobs/mosaic_job.py` runs (e.g. --validate without a
# Spark session) need the repo root; spark-submit gets it via --py-files
_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_root, "aef_mosaic_spark")):
    sys.path.insert(0, _root)

CONFIG_TEMPLATE = {
    "images_dir": "s3a://bucket/images/",
    "output": "/data/mosaic",
    "mode": "mean",
    "bounds": "499000,4095000,530000,4125000",
    "crs": "EPSG:32610",
    "resolution": 10.0,
    "years": "2023,2024",
    "commit_groups": 1,
}


def validate_config(args) -> tuple[list[str], list[str]]:
    """Plan-free config + input validation (reference `validate`
    command, src/main.rs:65-71, 255-343): every issue is reported, not
    just the first. Returns (issues, unchecked): an --images-dir with a
    URI scheme other than file:// (s3a://, gs://, hdfs://...) is not
    listed without a Spark session, so it is reported as unchecked."""
    from urllib.parse import urlparse

    from aef_mosaic_spark import proj
    from aef_mosaic_spark.operators.normalize import SYNONYMS

    issues: list[str] = []
    unchecked: list[str] = []
    try:
        b = tuple(float(v) for v in args.bounds.split(","))
        if len(b) != 4:
            issues.append(f"bounds needs 4 values, got {len(b)}")
        elif b[2] <= b[0] or b[3] <= b[1]:
            issues.append(f"bounds max must exceed min: {b}")
    except ValueError as e:
        issues.append(f"bounds unparseable: {e}")
    try:
        proj.parse_epsg(args.crs)
    except ValueError as e:
        issues.append(str(e))
    if args.resolution <= 0:
        issues.append(f"resolution must be > 0, got {args.resolution}")
    try:
        years = [int(y) for y in args.years.split(",")]
        if not years or sorted(set(years)) != years:
            issues.append(f"years must be sorted and unique: {years}")
    except ValueError as e:
        issues.append(f"years unparseable: {e}")
    if args.commit_groups < 1:
        issues.append("commit-groups must be >= 1")
    url = urlparse(args.images_dir or "")
    if url.scheme not in ("", "file"):
        unchecked.append(f"images-dir {args.images_dir}: {url.scheme}:// "
                         "paths are listed only by the job's Spark session")
    elif args.images_dir:
        import glob as g

        import pyarrow.parquet as papq
        files = sorted(g.glob(os.path.join(url.path, "**", "*.parquet"),
                              recursive=True))
        if not files:
            issues.append(f"no parquet files under {args.images_dir}")
        else:
            have = {c.lower() for c in papq.read_schema(files[0]).names}
            for canon in ("tile_id", "min_x", "min_y", "max_x", "max_y"):
                if not any(s in have for s in SYNONYMS[canon]) \
                        and not {"image_id", "bytes"} <= have:
                    issues.append(
                        f"input lacks {canon!r} (synonyms {SYNONYMS[canon]})"
                        " and is not an image table (image_id+bytes)")
                    break
    elif not args.generate:
        issues.append("one of --images-dir / --generate is required")
    return issues, unchecked


def session_builder(args):
    """The job's session: the package defaults (session._DEFAULT_CONF,
    Python worker daemon included) with no master, so spark-submit's
    --master wins; --shuffle-partitions overrides the default count."""
    from aef_mosaic_spark import session

    extra = ({"spark.sql.shuffle.partitions": str(args.shuffle_partitions)}
             if args.shuffle_partitions else None)
    return session.session_builder("aef-mosaic-run", extra)


def warm_python_workers(spark) -> None:
    """Start the Python worker pool and import numpy, pandas and the
    codecs in every worker, so the measured run reflects steady-state
    throughput, not one-time process start-up. One task per
    defaultParallelism slot starts every worker the run can use; a
    wider stage only queues more Python tasks behind the same workers,
    each paying the per-task set-up again. The noop sink runs the
    tasks in one stage with no shuffle."""

    def _noop(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        from aef_mosaic_spark import codecs, proj  # noqa: F401
        yield from it

    n = spark.sparkContext.defaultParallelism
    (spark.range(n, numPartitions=n).mapInPandas(_noop, schema="id long")
     .write.format("noop").mode("overwrite").save())


def apply_config(ap, args, cfg: dict, argv_list: list[str]) -> None:
    """Merge a config file under the parsed args. An EXPLICIT flag
    always wins, even when its value equals the argparse default
    (value-vs-default comparison can't tell "--mode mean" from "not
    given" — detected from argv instead); unknown config keys are an
    error, not a silent setattr."""
    explicit = set()
    for a in ap._actions:
        for opt in a.option_strings:
            if any(tok == opt or tok.startswith(opt + "=")
                   for tok in argv_list):
                explicit.add(a.dest)
    valid = {a.dest for a in ap._actions}
    for k, v in cfg.items():
        k = k.replace("-", "_")
        if k not in valid:
            ap.error(f"unknown config key: {k!r}")
        if k not in explicit and v is not None:
            setattr(args, k, v)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--images-dir", help="parquet dir of the image+caption table")
    ap.add_argument("--generate", type=int, default=0,
                    help="generate N deterministic synthetic tiles instead")
    ap.add_argument("--output")
    ap.add_argument("--config", help="JSON config file; CLI flags override")
    ap.add_argument("--validate", action="store_true",
                    help="check config + input schema, print issues, exit")
    ap.add_argument("--generate-config", action="store_true",
                    help="print a config template and exit")
    ap.add_argument("--mode", default="mean",
                    choices=["mean", "last", "weighted", "median"])
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--analyze", action="store_true", help="plan-only report")
    ap.add_argument("--bounds", default="499000,4095000,530000,4125000")
    ap.add_argument("--crs", default="EPSG:32610")
    ap.add_argument("--resolution", type=float, default=10.0)
    ap.add_argument("--years", default="2023,2024")
    ap.add_argument("--shuffle-partitions", type=int, default=0)
    ap.add_argument("--no-warmup", action="store_true",
                    help="skip the python-worker warmup before timing")
    ap.add_argument("--progress-interval", type=float, default=None,
                    help="print active-stage task progress every N "
                         "seconds and report per-stage time in metrics")
    ap.add_argument("--skip-bad-tiles", action="store_true",
                    help="skip (and count) tiles whose decode/reproject "
                         "fails instead of failing the job")
    ap.add_argument("--process-years", default=None,
                    help="comma-separated subset of --years this run "
                         "commits (multi-VM year slicing; each slice is "
                         "an independent commit into the same table)")
    ap.add_argument("--rate-mbps", type=float, default=None,
                    help="cap the average input rate (MB/s of tile "
                         "bytes fetched) for a backfill: bands are "
                         "paced by a token bucket between commits; "
                         "requires --commit-groups > 1")
    ap.add_argument("--commit-groups", type=int, default=1,
                    help=">1 commits the run as K row-band snapshots "
                         "(incremental checkpointing: a crash loses at "
                         "most one band)")
    args = ap.parse_args(argv)
    if args.generate_config:
        print(json.dumps(CONFIG_TEMPLATE, indent=1))
        return 0
    if args.config:
        with open(args.config) as f:
            cfg = json.load(f)
        apply_config(ap, args, cfg,
                     list(sys.argv[1:] if argv is None else argv))
    if args.validate:
        issues, unchecked = validate_config(args)
        print(json.dumps({"valid": not issues, "issues": issues,
                          "unchecked": unchecked}))
        return 1 if issues else 0
    if not args.output:
        ap.error("--output is required (unless --validate/--generate-config)")
    if args.rate_mbps is not None and args.commit_groups <= 1:
        ap.error("--rate-mbps requires --commit-groups > 1 (pacing "
                 "happens between group commits; with one group the "
                 "backfill would run unthrottled)")

    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.plans.pipeline import MosaicJob

    spark = session_builder(args).getOrCreate()

    bounds = tuple(float(v) for v in args.bounds.split(","))
    if len(bounds) != 4:
        ap.error(f"--bounds needs 4 comma-separated values "
                 f"(min_x,min_y,max_x,max_y), got {len(bounds)}")
    grid = OutputGrid(
        bounds=bounds,
        crs=args.crs,
        resolution=args.resolution,
        years=tuple(int(y) for y in args.years.split(",")),
        num_bands=3, chunk_h=256, chunk_w=256,
    )
    if args.generate:
        from aef_mosaic_spark.generator import images_df

        images = images_df(spark, args.generate)
        n_in = args.generate
    else:
        images = spark.read.parquet(args.images_dir)
        n_in = None

    if not args.no_warmup:
        warm_python_workers(spark)

    job = MosaicJob(grid, mode=args.mode, skip_bad_tiles=args.skip_bad_tiles)
    if args.analyze:
        print(json.dumps(job.analyze(spark, images)))
        return 0
    t0 = time.time()
    process_years = (tuple(int(y) for y in args.process_years.split(","))
                     if args.process_years else None)
    if args.commit_groups > 1:
        from aef_mosaic_spark.plans.backfill import TokenBucket
        metrics = job.run_incremental(
            spark, images, args.output, groups=args.commit_groups,
            resume=args.resume, process_years=process_years,
            bucket=TokenBucket(args.rate_mbps * 1e6) if args.rate_mbps else None,
            on_progress=lambda p: print(json.dumps({"progress": p}),
                                        file=sys.stderr))
    else:
        metrics = job.run(spark, images, args.output, resume=args.resume,
                          process_years=process_years,
                          progress_interval_s=args.progress_interval)
    metrics["spark_master"] = spark.sparkContext.master
    metrics["n_input"] = n_in
    metrics["wall_total_s"] = round(time.time() - t0, 3)
    print(json.dumps(metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
