"""HyperLogLog + Count-Min sketches: accuracy bounds, exact
mergeability (the at-scale property), and Spark<->DuckDB twin parity.
"""
import duckdb
import pytest
from pyspark.sql import functions as F

from aef_mosaic_spark.functions.sketches import (
    cms_heavy_hitters, cms_heavy_hitters_sql, hll_distinct,
    hll_distinct_sql)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_hll_accuracy_global(spark, events):
    df = events.selectExpr("CAST(event_id AS STRING) AS v")
    est = hll_distinct(df, [], "v").collect()[0]
    exact = df.distinct().count()
    # m=256 -> sigma ~ 1.04/16 = 6.5%; allow 3 sigma
    assert abs(est["approx_distinct"] - exact) / exact < 0.20
    assert est["n_registers"] == 256  # 10k values saturate all registers


def test_hll_grouped_linear_counting_branch(spark, events):
    # per-type user cardinality (~150) sits below 2.5*m -> linear
    # counting branch; still within a few % of exact
    df = events.selectExpr("event_type", "CAST(user_id AS STRING) AS v")
    est = {r["event_type"]: r["approx_distinct"]
           for r in hll_distinct(df, ["event_type"], "v").collect()}
    exact = {r["event_type"]: r["n"]
             for r in df.groupBy("event_type")
                        .agg(F.countDistinct("v").alias("n")).collect()}
    for t, n in exact.items():
        assert abs(est[t] - n) / n < 0.15, (t, est[t], n)


def test_hll_duckdb_twin_parity(spark, events):
    df = events.selectExpr("event_type", "CAST(user_id AS STRING) AS v")
    got = sorted(map(tuple, hll_distinct(df, ["event_type"], "v").collect()))
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")
    want = sorted(map(tuple, con.sql(
        hll_distinct_sql("events", ["event_type"], "user_id::VARCHAR"))
        .fetchall()))
    assert got == want


def test_cms_overestimates_never_under(spark, docs):
    occ = docs.select(F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("v"))
    top = cms_heavy_hitters(occ, "v", k=25).collect()
    assert len(top) == 25  # synthetic corpus vocab is ~31 tokens
    for r in top:
        assert r["est_count"] >= r["exact_count"]
    # deterministic order
    ests = [(r["est_count"], r["value"]) for r in top]
    assert ests == sorted(ests, key=lambda t: (-t[0], t[1]))


def test_cms_duckdb_twin_parity(spark, docs):
    occ = docs.select(F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("value"))
    got = [tuple(r) for r in cms_heavy_hitters(occ, "value", k=20).collect()]
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
    occ_sql = ("(SELECT unnest(string_split_regex(lower(trim(text)), "
               "'\\s+')) AS value FROM documents)")
    want = [tuple(r) for r in
            con.sql(cms_heavy_hitters_sql(occ_sql, k=20)).fetchall()]
    assert got == want


def test_hll_plan_is_jvm_only(spark, events):
    """No Python stages anywhere in the sketch plan — the whole
    pipeline must stay in whole-stage codegen."""
    df = events.selectExpr("event_type", "CAST(user_id AS STRING) AS v")
    plan = hll_distinct(df, ["event_type"], "v")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_log2_quantiles_bound_and_merge(spark):
    """log2 sketch: (a) est_lo <= ceil-rank order statistic <
    2*est_lo for every (group, q); (b) sharded histograms merge by
    count addition into the whole-corpus histogram."""
    from pyspark.sql import functions as F

    from aef_mosaic_spark.functions.sketches import (log2_histogram,
                                                     log2_quantiles)

    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = {(r.lang, r.q): (r.bucket, r.est_lo)
           for r in log2_quantiles(d, ["lang"], "n_chars").collect()}
    vals = {}
    for r in d.select("lang", "n_chars").collect():
        vals.setdefault(r.lang, []).append(r.n_chars)
    for lang, vs in vals.items():
        vs.sort()
        n = len(vs)
        for q in (50, 90, 99):
            need = (n * q + 99) // 100
            exact = vs[need - 1]
            bucket, est_lo = got[(lang, q)]
            assert est_lo == 1 << bucket
            assert est_lo <= exact < 2 * est_lo, (lang, q, exact, est_lo)

    whole = {(r.lang, r.bucket): r.cnt
             for r in log2_histogram(d, ["lang"], "n_chars").collect()}
    a = log2_histogram(d.where(F.col("doc_id") % 2 == 0),
                       ["lang"], "n_chars")
    b = log2_histogram(d.where(F.col("doc_id") % 2 != 0),
                       ["lang"], "n_chars")
    merged = {(r.lang, r.bucket): r.cnt
              for r in a.unionByName(b).groupBy("lang", "bucket")
              .agg(F.sum("cnt").cast("long").alias("cnt")).collect()}
    assert merged == whole
