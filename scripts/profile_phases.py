"""Phase-level profiling of the mosaic DAG under spark-submit."""

import json
import os
import sys
import time

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 12000
    bounds = (499000.0, 4095000.0, 620000.0, 4216000.0)
    spark = SparkSession.builder.getOrCreate()

    from aef_mosaic_spark import generator
    from aef_mosaic_spark.grid import OutputGrid
    from aef_mosaic_spark.operators import mosaic as M

    grid = OutputGrid(bounds=bounds, crs="EPSG:32610", resolution=10.0,
                      years=(2023, 2024), num_bands=3)

    def _noop(it):
        yield from it
    spark.range(256, numPartitions=256).mapInPandas(_noop, schema="id long").count()

    out = {"master": spark.sparkContext.master, "n": n}
    t0 = time.time()
    imgs = generator.images_df(spark, n)
    out["gen_count"] = imgs.count()
    out["t_gen"] = round(time.time() - t0, 2)

    t0 = time.time()
    out["n_patches"] = M.tiles_to_patches(imgs, grid).count()
    out["t_gen_patches"] = round(time.time() - t0, 2)

    t0 = time.time()
    out["n_chunks"] = M.composite_chunks(
        M.tiles_to_patches(imgs, grid), grid).count()
    out["t_full"] = round(time.time() - t0, 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
