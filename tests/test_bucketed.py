"""Bucketed co-partitioned joins: repeated joins on image_id without a
shuffle (CLAUDE.md candidate; the Spark answer to re-joining the image
table at 100 TB)."""

from pyspark.sql import functions as F

from aef_mosaic_spark.sources.bucketed import plan_has_shuffle, write_bucketed


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet") \
        .selectExpr("CAST(doc_id AS STRING) AS image_id", "text")
    meta = docs.select("image_id", F.length("text").alias("n_chars"))
    write_bucketed(docs, "b_docs", ["image_id"], 8,
                   sort_cols=["image_id"], path=str(tmp_path / "b_docs"))
    write_bucketed(meta, "b_meta", ["image_id"], 8,
                   sort_cols=["image_id"], path=str(tmp_path / "b_meta"))
    try:
        j = spark.table("b_docs").hint("merge").join(
            spark.table("b_meta"), ["image_id"])
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan[:2000]
        assert not plan_has_shuffle(j), plan[:2000]
        assert j.count() == docs.count()
        # the UNbucketed control join DOES shuffle (sanity of the
        # probe; merge hint so AQE can't broadcast it away)
        ctrl = docs.hint("merge").join(
            meta.withColumnRenamed("n_chars", "m").hint("merge"),
            ["image_id"])
        assert plan_has_shuffle(ctrl)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_docs")
        spark.sql("DROP TABLE IF EXISTS b_meta")


def test_bucketed_image_table_enrich_surface(spark, tmp_path):
    """BucketedImageTable: create once, enrich repeatedly — the
    two-enrichment join chain must be SortMergeJoins with ZERO
    exchanges (the whole point of paying the bucketing shuffle once)."""
    from aef_mosaic_spark.sources.bucketed import BucketedImageTable

    imgs = spark.read.parquet("fixtures/images_meta_600.parquet")
    t = BucketedImageTable(spark, name="tbit_images", num_buckets=8,
                           base_path=str(tmp_path))
    try:
        t.create(imgs)
        t.add_enrichment("verdicts", imgs.select(
            "image_id", (F.col("phash") % 2 == 0).cast("int").alias("dup")))
        t.add_enrichment("quality", imgs.select(
            "image_id", F.length("caption").alias("cap_len")))
        j = t.enriched("verdicts", "quality")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert plan.count("SortMergeJoin") == 2, plan[:2000]
        assert not plan_has_shuffle(j), plan[:3000]
        rows = j.count()
        assert rows == imgs.count()
        # values survive the chain
        one = j.where(F.col("image_id") == "img_00000000").collect()[0]
        assert one.cap_len > 0 and one.dup in (0, 1)
    finally:
        t.drop()
