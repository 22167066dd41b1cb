"""Bucketed (co-partitioned) tables for repeated keyed joins.

At 100 TB the image/caption table is joined on image_id over and over
(metadata enrichment, dedup verdicts, caption updates). Bucketing both
sides by the join key at WRITE time removes the shuffle from every
subsequent join: Spark's bucketed scan reports the hash partitioning,
so SortMergeJoin consumes both sides exchange-free (the same trick as
the reference's pre-sharded index files, but done by the table format).

Spark-first specifics: bucketBy is only available via saveAsTable
(data-source tables carry bucket metadata in the catalog); the bucket
count must match on both sides; spark.sql.sources.bucketing.enabled is
on by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   num_buckets: int = 16,
                   sort_cols: list[str] | None = None,
                   path: str | None = None) -> None:
    """Persist df as a bucketed parquet data-source table."""
    w = df.write.mode("overwrite").format("parquet") \
        .bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def plan_has_shuffle(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange hashpartitioning" in plan or "ShuffleExchange" in plan


class BucketedImageTable:
    """The repeated-join pipeline surface over the image+caption table.

    At 10^12 rows the base table is re-joined on image_id for every
    enrichment pass (dedup verdicts, caption updates, quality scores,
    embedding pointers). `create` pays the bucketing shuffle ONCE;
    each `add_enrichment` bucket-aligns its (usually same-keyed) frame
    once; every `enriched` join thereafter is an exchange-free
    SortMergeJoin — no shuffle of the 100 TB side, ever again.
    Reference analog: the pre-sharded spatial index files
    (src/index/input_index.rs), done here by the table format.
    """

    def __init__(self, spark: SparkSession, name: str = "images",
                 key: str = "image_id", num_buckets: int = 16,
                 base_path: str | None = None):
        self.spark = spark
        self.name = name
        self.key = key
        self.num_buckets = num_buckets
        self.base_path = base_path

    def _path(self, table: str) -> str | None:
        import os
        return os.path.join(self.base_path, table) if self.base_path else None

    def create(self, df: DataFrame) -> None:
        """Persist the base table bucketed+sorted by the join key."""
        write_bucketed(df, self.name, [self.key], self.num_buckets,
                       sort_cols=[self.key], path=self._path(self.name))

    def add_enrichment(self, name: str, df: DataFrame) -> None:
        """Bucket-align an enrichment frame (one shuffle, amortized
        over every later join). Must contain the key column."""
        write_bucketed(df, f"{self.name}_{name}", [self.key],
                       self.num_buckets, sort_cols=[self.key],
                       path=self._path(f"{self.name}_{name}"))

    def enriched(self, *names: str, how: str = "inner",
                 merge_hint: bool = True) -> DataFrame:
        """Join the base table with the named enrichments. With the
        merge hint (default) the plan is a chain of exchange-free
        SortMergeJoins over the shared bucket partitioning — assert
        with `plan_has_shuffle(...) is False`."""
        out = self.spark.table(self.name)
        for n in names:
            right = self.spark.table(f"{self.name}_{n}")
            if merge_hint:
                # hint every join: a hint on the accumulated left side
                # doesn't survive the previous join's output
                right = right.hint("merge")
            out = out.join(right, self.key, how)
        return out

    def drop(self) -> None:
        for t in self.spark.catalog.listTables():
            if t.name == self.name or t.name.startswith(f"{self.name}_"):
                self.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
