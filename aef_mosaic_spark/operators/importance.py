"""DSIR-style importance weighting for data selection (Xie et al.
2023, "Data Selection for Language Models via Importance Resampling"
— public). Score every document by how much its hashed bag-of-ngram
features look like a TARGET distribution vs the SOURCE distribution:

    weight(doc) = sum over gram instances g of
                  ln p_target(bucket(g)) - ln p_source(bucket(g))

with Laplace-smoothed bucket probabilities over `n_buckets` hashed
(unigram + bigram) features. High-weight docs are the ones importance
resampling keeps when curating a web-scale corpus toward a small
high-quality target (the paper's Pile -> Wikipedia/book setup).

Scale shape (10^12 docs): ONE explode over grams (~tokens/doc),
immediately folded into a lazily-checkpointed (doc, bucket, count)
table — docs x min(grams/doc, n_buckets) int rows — that both the
bucket-stats branch and the per-doc weight branch read (without the
checkpoint the explode + per-gram md5 runs twice: 2.0x at 50k docs,
BENCH §10e). Then one map-side-combined groupBy(bucket) (<= n_buckets
rows), one broadcast join of the bucket table back, one groupBy(doc).
No windows, no driver-side loops; totals ride a 1-row crossJoin.

Engine-parity recipe: the per-bucket log-ratio is floor-quantized to
6dp AS AN INTEGER (lrq = floor(lr * 1e6 + 0.5) :: BIGINT), so the
per-doc aggregation is an EXACT integer sum — order-independent
across partitions and engines (float log-ratio sums would drift with
summation order). The final weight divides the exact sum by 1e6 once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aef_mosaic_spark.functions.hashes import h32_col, h32_sql

DSIR_BUCKETS = 512


def _grams_from_tokens(w):
    """Unigram+bigram array from a token-array column/expression.
    Callers on a hot path must pass a *projected column* (two-step
    select) so the tokenization is evaluated once per row, not once
    per lambda element."""
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat(F.element_at(w, i), F.lit(" "),
                               F.element_at(w, i + 1)))
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(w, bigrams)


def dsir_weights(df: DataFrame, id_col: str, text_col: str,
                 target_col: str, target_value: str,
                 n_buckets: int = DSIR_BUCKETS,
                 salt: str = "dsir-v1") -> DataFrame:
    """-> (id_col, n_grams int, weight double), one row per input doc.
    Target corpus = rows with df[target_col] == target_value; source =
    the rest. weight > 0 means the doc's hashed-ngram profile is more
    target-like than source-like."""
    b = int(n_buckets)
    # two-step select: the token array materializes as its own column
    # BEFORE the bigram transform references it (no-CSE-in-lambdas law
    # — inlined, the regex split re-runs per bigram element, O(L^2)
    # splits per doc; this fix alone took the q103 noop path
    # 8.18 -> 1.87 s at sf0.1, BENCH §11a)
    from aef_mosaic_spark.partitioning import spread_input

    toks = spread_input(df, id_col).select(
        F.col(id_col),
        (F.col(target_col) == target_value).cast("int").alias("_is_t"),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_w"),
    )
    grams = toks.select(
        F.col(id_col), F.col("_is_t"),
        F.explode(_grams_from_tokens(F.col("_w"))).alias("_gram"),
    ).withColumn(
        "_bucket",
        F.pmod(h32_col(F.concat(F.lit(f"{salt}:"), F.col("_gram"))),
               F.lit(b)).cast("int"),
    ).drop("_gram")
    # doc-bucket pre-aggregation, lineage-cut: the gram stream (the
    # explode + per-gram md5, 2 passes over the corpus otherwise —
    # both the stats branch and the weight branch hang off it) is
    # hashed ONCE into (doc, bucket, count) and checkpointed lazily;
    # everything downstream reads the compact int table. Measured 2x
    # at 50k docs (BENCH §10e); at 10^12 docs the checkpoint is
    # bounded by docs x min(grams/doc, n_buckets) int rows.
    db = (grams.groupBy(id_col, "_is_t", "_bucket")
          .agg(F.count(F.lit(1)).cast("long").alias("_c"))
          .localCheckpoint(eager=False))
    stats = db.groupBy("_bucket").agg(
        F.sum(F.col("_c") * F.col("_is_t")).cast("long").alias("_c_t"),
        F.sum(F.col("_c") * (1 - F.col("_is_t"))).cast("long")
        .alias("_c_s"),
    )
    totals = stats.agg(F.sum("_c_t").cast("long").alias("_n_t"),
                       F.sum("_c_s").cast("long").alias("_n_s"))
    lr = stats.crossJoin(F.broadcast(totals)).select(
        "_bucket",
        F.floor(
            (F.log((F.col("_c_t") + 1) / (F.col("_n_t") + b))
             - F.log((F.col("_c_s") + 1) / (F.col("_n_s") + b)))
            * 1000000 + F.lit(0.5)
        ).cast("long").alias("_lrq"),
    )
    return (db.join(F.broadcast(lr), "_bucket")
            .groupBy(id_col)
            .agg(F.sum("_c").cast("int").alias("n_grams"),
                 F.sum(F.col("_c") * F.col("_lrq")).cast("long")
                 .alias("_wq"))
            .select(id_col, "n_grams",
                    (F.col("_wq") / 1000000).alias("weight")))


def importance_resample(df: DataFrame, id_col: str, weight_col: str,
                        k: int, temperature: float = 1.0,
                        salt: str = "dsir-rs-v1",
                        method: str = "auto",
                        n_shards: int = 64) -> DataFrame:
    """The RESAMPLING step of DSIR (Xie 2023 §2): draw `k` docs
    WITHOUT replacement with probability proportional to
    exp(weight / temperature), via the Gumbel-top-k identity —
    top-k of (weight/T + Gumbel noise) is exactly such a sample.

    -> (id_col, weight_col, gumbel_key_q long), the k selected rows.

    Deterministic on any cluster/engine: the "noise" g = -ln(-ln(u))
    uses u = (h32(salt:id) + 0.5) / 2^32 (functions/hashes.py — the
    one hash identical in Spark and DuckDB), and the selection key is
    floor-quantized to 6dp as an INTEGER before ranking, with id as
    the final tiebreak.

    method:
      - "topk" (default for k <= 100_000): orderBy(key desc).limit(k)
        — Catalyst's TakeOrderedAndProject, a per-partition bounded
        heap + single k-row merge. Right shape for small k.
      - "sharded" (default above): the paper's regime keeps k ~ 10%
        of a web corpus, where a k-row single-task merge is the
        bottleneck. Exact global rank via sharded_keyed_rank with
        hb = equal-width coarse bin of the DESCENDING key (monotone,
        so the two-phase shard decomposition stays exact; bin width
        from a collected min/max — two bounded driver scalars), then
        rank <= k. No single task ever holds more than ~n/shards
        rows. Bit-identical to "topk" (pytest-asserted).
    """
    kq = F.floor(
        (F.col(weight_col) / F.lit(float(temperature))
         + -F.log(-F.log(
             (h32_col(F.concat(F.lit(f"{salt}:"),
                               F.col(id_col).cast("string")))
              + F.lit(0.5)) / F.lit(4294967296.0))))
        * 1000000 + F.lit(0.5)).cast("long")
    base = df.select(F.col(id_col), F.col(weight_col),
                     kq.alias("gumbel_key_q"))
    if method == "auto":
        method = "topk" if int(k) <= 100_000 else "sharded"
    if method == "topk":
        return (base.orderBy(F.col("gumbel_key_q").desc(),
                             F.col(id_col))
                .limit(int(k)))
    from aef_mosaic_spark.operators.sampling import (BUCKETS,
                                                     sharded_keyed_rank)
    neg = base.withColumn("_negk", -F.col("gumbel_key_q"))
    lo, hi = neg.agg(F.min("_negk"), F.max("_negk")).first()
    span = max(int(hi) - int(lo) + 1, 1)
    # (negk - lo) <= span ~ (weight range + ~25) * 1e6; * BUCKETS
    # stays < 2^63 for any real weight range (documented bound)
    hbq = F.floor((F.col("_negk") - F.lit(int(lo)))
                  * BUCKETS / F.lit(span)).cast("int")
    ranked = sharded_keyed_rank(
        neg.withColumn("_hbq", hbq), [], "_hbq", id_col,
        n_shards=n_shards, rank_cap=int(k),
        order_cols=[F.col("_negk")])
    return (ranked.where(F.col("_rk") <= int(k))
            .select(id_col, weight_col, "gumbel_key_q"))


def importance_resample_sql(inner_sql: str, id_col: str,
                            weight_col: str, k: int,
                            temperature: float = 1.0,
                            salt: str = "dsir-rs-v1") -> str:
    """DuckDB twin over any subquery yielding (id, weight): identical
    hash-derived uniforms, Gumbel key, 6dp integer quantization and
    (key desc, id) order."""
    h = h32_sql(f"('{salt}:' || {id_col}::VARCHAR)")
    t = f"{float(temperature)!r}e0"
    return f"""
    SELECT {id_col}, {weight_col},
           CAST(floor(({weight_col} / {t}
                       + -ln(-ln(({h} + 0.5e0) / 4294967296.0e0)))
                      * 1000000 + 0.5e0) AS BIGINT) AS gumbel_key_q
    FROM ({inner_sql}) _ir
    ORDER BY gumbel_key_q DESC, {id_col}
    LIMIT {int(k)}
    """


def dsir_weights_sql(table: str, id_col: str, text_col: str,
                     target_col: str, target_value: str,
                     n_buckets: int = DSIR_BUCKETS,
                     salt: str = "dsir-v1") -> str:
    """DuckDB twin: identical grams, buckets, smoothing and integer
    quantization (every integer sum carries ::BIGINT — HUGEINT
    corrupts through the driver's Arrow fetch)."""
    b = int(n_buckets)
    w = f"string_split_regex(lower(trim({text_col})), '\\s+')"
    h = h32_sql(f"('{salt}:' || gram)")
    return f"""
    WITH base AS (
      SELECT {id_col},
             (CASE WHEN {target_col} = '{target_value}' THEN 1
                   ELSE 0 END) AS is_t,
             list_concat(
               {w},
               (CASE WHEN len({w}) >= 2 THEN
                  list_transform(generate_series(1, len({w}) - 1),
                                 i -> {w}[i] || ' ' || {w}[i + 1])
                ELSE [] END)) AS grams
      FROM {table}
    ),
    g AS (
      SELECT {id_col}, is_t, ({h} % {b})::INT AS bucket
      FROM (SELECT {id_col}, is_t, unnest(grams) AS gram FROM base)
    ),
    stats AS (
      SELECT bucket, sum(is_t)::BIGINT AS c_t,
             sum(1 - is_t)::BIGINT AS c_s
      FROM g GROUP BY bucket
    ),
    tot AS (
      SELECT sum(c_t)::BIGINT AS n_t, sum(c_s)::BIGINT AS n_s
      FROM stats
    ),
    lr AS (
      SELECT bucket,
             CAST(floor((ln((c_t + 1)::DOUBLE / (n_t + {b}))
                         - ln((c_s + 1)::DOUBLE / (n_s + {b})))
                        * 1000000 + 0.5e0) AS BIGINT) AS lrq
      FROM stats, tot
    )
    SELECT g.{id_col}, count(*)::INT AS n_grams,
           (sum(lr.lrq)::BIGINT / 1000000) AS weight
    FROM g JOIN lr USING (bucket)
    GROUP BY g.{id_col}
    """
