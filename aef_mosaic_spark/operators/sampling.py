"""Deterministic sampling operators for training-data pipelines.

Corpus assembly needs REPRODUCIBLE sampling: the same doc set in and
the same config must select the same rows on any cluster, at any
parallelism, on either engine (Spark or the DuckDB oracle). So no
rand()/sample(): selection is a pure function of the row key via the
md5-derived h32 (functions/hashes.py — the only hash identical in
both engines), bucketed into [0, 10000).

stratified_sample: per-stratum keep rates (e.g. lang -> rate) — the
classic corpus-mix knob (downsample dominant languages / sources).
A row is kept iff h32(salt:id) % 10000 < rate * 10000. Pure Column
exprs: the filter pushes into the scan stage, no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aef_mosaic_spark.functions.hashes import h32_col, h32_sql

BUCKETS = 10000


def sample_bucket_col(id_col: str, salt: str):
    """Deterministic bucket in [0, 10000) from the row key."""
    return F.pmod(h32_col(F.concat(F.lit(f"{salt}:"),
                                   F.col(id_col).cast("string"))),
                  F.lit(BUCKETS)).cast("int")


def sharded_keyed_rank(df: DataFrame, key_cols: list[str],
                       hb_col: str, id_col: str,
                       sum_col: str | None = None,
                       n_shards: int = 64,
                       rank_cap: int | None = None,
                       order_cols: list | None = None) -> DataFrame:
    """Exact per-key row_number (`_rk`, 1-based) — and, with sum_col,
    the per-key running sum INCLUDING the current row (`_cum`) — in
    (hb_col, id_col) order, WITHOUT a single window task per key.

    The naive `Window.partitionBy(key)` puts every row of a key in
    one task: one heavy domain/bucket/cell at 10^12 rows = one task
    doing a running sum over billions of rows. Because the in-key
    order starts with the uniform deterministic bucket hb_col (h32 %
    BUCKETS, functions/hashes.py), `shard = floor(hb * S / BUCKETS)`
    is a pure function of the row that is MONOTONE in the order key:
    every row of shard s precedes every row of shard s+1 in global
    order, and shards are near-equal sized. So:

      1. local window per (key, shard) — task size ~ n_key / S, one
         hash exchange, no range partitioner, fully deterministic
         (no spark_partition_id: a recomputed branch always sees the
         same shard assignment).
      2. per-(key, shard) counts/sums (map-side-combined agg, one row
         per key per shard) -> running offsets per key over shards (a
         window over the tiny agg) -> joined back;
         `_rk = offset_rows + local_rank`,
         `_cum = offset_sum + local_cumsum`.

    Bit-identical to the single-window formulation. Shard granularity
    is capped by hb_col's BUCKETS distinct values (10000).

    rank_cap: when only rows with _rk <= cap are wanted (top-k per
    key), rows whose LOCAL rank already exceeds cap are dropped
    before the offsets join (global rank >= local rank), bounding the
    join input to n_shards * cap rows per key.

    order_cols: extra ordering columns/exprs BETWEEN hb_col and the
    id tiebreak — the in-key order becomes (hb, *order_cols, id).
    The shard stays monotone in that order (it is a function of hb,
    the leading key), so the two-phase decomposition stays exact.
    Used when hb_col is a coarse monotone image of the true sort key
    (importance_resample: hb = equal-width bin of the DESCENDING
    gumbel key, order_cols = the exact key) rather than the order
    itself.
    """
    from pyspark.sql import Window

    n_shards = max(1, min(int(n_shards), BUCKETS))
    shard = F.floor(F.col(hb_col) * n_shards / BUCKETS).cast("int")
    base = df.withColumn("_shard", shard)
    wl = Window.partitionBy("_shard", *key_cols).orderBy(
        hb_col, *(order_cols or []), id_col)
    loc = base.withColumn("_lrk", F.row_number().over(wl))
    aggs = [F.count(F.lit(1)).alias("_n_part")]
    if sum_col is not None:
        loc = loc.withColumn("_lcum", F.sum(sum_col).over(
            wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        aggs.append(F.sum(sum_col).alias("_s_part"))
    counts = base.groupBy("_shard", *key_cols).agg(*aggs)
    wo = (Window.partitionBy(*key_cols).orderBy("_shard")
          .rowsBetween(Window.unboundedPreceding, -1))
    off = counts.withColumn(
        "_rk_off", F.coalesce(F.sum("_n_part").over(wo), F.lit(0)))
    off_cols = ["_shard", *key_cols, "_rk_off"]
    if sum_col is not None:
        off = off.withColumn(
            "_cum_off", F.coalesce(F.sum("_s_part").over(wo), F.lit(0)))
        off_cols.append("_cum_off")
    if rank_cap is not None:
        loc = loc.where(F.col("_lrk") <= rank_cap)
    # join key == the local window's partitioning, so the big side
    # needs no re-exchange; the offsets side is (keys x shards)-sized
    # and AQE broadcasts it when small
    out = loc.join(off.select(*off_cols), ["_shard", *key_cols])
    out = out.withColumn("_rk", (F.col("_rk_off") + F.col("_lrk"))
                         .cast("long"))
    if sum_col is not None:
        out = out.withColumn("_cum", F.col("_cum_off") + F.col("_lcum"))
    return out.drop("_shard", "_lrk", "_lcum", "_rk_off", "_cum_off")


def stratified_sample(df: DataFrame, id_col: str, strata_col: str,
                      rates: dict[str, float], default_rate: float = 0.0,
                      salt: str = "sample-v1") -> DataFrame:
    """Keep each row with its stratum's rate, deterministically.
    -> input columns + (bucket int). Rows in strata not present in
    `rates` use default_rate (0.0 = drop)."""
    bucket = sample_bucket_col(id_col, salt)
    rate = F.lit(float(default_rate))
    for k, v in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == k, F.lit(float(v))).otherwise(rate)
    return (df.withColumn("bucket", bucket)
            .where(F.col("bucket") < rate * BUCKETS))


def stratified_sample_sql(table: str, id_col: str, strata_col: str,
                          rates: dict[str, float],
                          default_rate: float = 0.0,
                          salt: str = "sample-v1") -> str:
    """DuckDB twin: identical h32 bucket arithmetic and rate CASE."""
    h = h32_sql(f"('{salt}:' || {id_col}::VARCHAR)")
    cases = " ".join(
        f"WHEN {strata_col} = '{k}' THEN {float(v)!r}e0"
        for k, v in sorted(rates.items()))
    rate = f"(CASE {cases} ELSE {float(default_rate)!r}e0 END)"
    return f"""
    SELECT *, ({h} % {BUCKETS})::INT AS bucket
    FROM {table}
    WHERE ({h} % {BUCKETS}) < {rate} * {BUCKETS}
    """


def token_budget_mixture(df: DataFrame, id_col: str, domain_col: str,
                         text_col: str, budgets: dict[str, int],
                         default_budget: int = 0,
                         salt: str = "mix-v1",
                         sharded: bool = True) -> DataFrame:
    """Domain-mixture corpus assembly to a per-domain TOKEN budget
    (the DoReMi / Pile-style mixture knob, public): docs in each
    domain are taken in deterministic h32 order until the domain's
    token budget is filled. Greedy fill: a doc is kept iff the tokens
    BEFORE it are still under budget, so each domain may overshoot by
    at most one document (the standard rule — no doc is split).

    -> kept rows (id, domain, n_tok, cum_tokens), where cum_tokens is
    the running total INCLUDING the row.

    Scale shape: sharded=True (default) computes the running sum via
    sharded_keyed_rank — a heavy domain spreads over many range
    partitions instead of one window task, with bit-identical output.
    sharded=False is the single-window-per-domain formulation kept for
    equivalence tests.
    """
    from aef_mosaic_spark.functions.text import token_count_col
    from pyspark.sql import Window

    budget = F.lit(int(default_budget))
    for k, v in sorted(budgets.items()):
        budget = F.when(F.col(domain_col) == k, F.lit(int(v))).otherwise(budget)
    out = df.select(
        F.col(id_col), F.col(domain_col),
        token_count_col(F.col(text_col)).cast("long").alias("n_tok"),
        budget.alias("_budget"),
        sample_bucket_col(id_col, salt).alias("_hb"),
    )
    if sharded:
        out = (sharded_keyed_rank(out, [domain_col], "_hb", id_col,
                                  sum_col="n_tok")
               .withColumnRenamed("_cum", "cum_tokens"))
    else:
        w = (Window.partitionBy(domain_col)
             .orderBy(F.col("_hb"), F.col(id_col))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        out = out.withColumn("cum_tokens", F.sum("n_tok").over(w))
    return (out.where(F.col("cum_tokens") - F.col("n_tok") < F.col("_budget"))
            .select(id_col, domain_col, "n_tok", "cum_tokens"))


def token_budget_mixture_sql(table: str, id_col: str, domain_col: str,
                             text_col: str, budgets: dict[str, int],
                             default_budget: int = 0,
                             salt: str = "mix-v1") -> str:
    """DuckDB twin: identical h32 ordering and greedy-fill window."""
    from aef_mosaic_spark.functions.text import token_count_sql

    cases = " ".join(f"WHEN {domain_col} = '{k}' THEN {int(v)}"
                     for k, v in sorted(budgets.items()))
    budget = f"(CASE {cases} ELSE {int(default_budget)} END)"
    h = h32_sql(f"('{salt}:' || {id_col}::VARCHAR)")
    return f"""
    WITH t AS (
      SELECT {id_col}, {domain_col},
             {token_count_sql(text_col)}::BIGINT AS n_tok,
             {budget} AS _budget,
             (sum({token_count_sql(text_col)}::BIGINT) OVER (
               PARTITION BY {domain_col}
               ORDER BY ({h} % {BUCKETS}), {id_col}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ))::BIGINT AS cum_tokens
      FROM {table}
    )
    SELECT {id_col}, {domain_col}, n_tok, cum_tokens
    FROM t WHERE cum_tokens - n_tok < _budget
    """


def bucketed_batches(df: DataFrame, id_col: str, w_col: str, h_col: str,
                     batch_size: int = 32,
                     salt: str = "batch-v1",
                     sharded: bool = True) -> DataFrame:
    """Resolution-bucketed batch assignment for image training (the
    SDXL aspect-/resolution-bucketing recipe, public): images are
    grouped by exact (w, h) bucket so every training batch stacks
    without resizing, shuffled WITHIN the bucket by the deterministic
    h32 key, and packed into fixed-size batches. `full` marks batches
    with exactly batch_size members (drop_last semantics: the ragged
    tail batch per bucket has full = false).

    -> (id, bucket, batch_idx, slot, full). Deterministic at any
    parallelism: ordering is (h32, id), never partition order.

    Scale shape: sharded=True (default) numbers slots with
    sharded_keyed_rank — tens of buckets at 10^12 images each spread
    over many range partitions instead of one window task each, with
    bit-identical batch assignment; the per-bucket total feeding
    `full` is a map-side-combined groupBy, not a window.
    sharded=False is the single-window-per-bucket formulation kept
    for equivalence tests.
    """
    from pyspark.sql import Window

    bucket = F.concat_ws("x", F.col(w_col).cast("string"),
                         F.col(h_col).cast("string"))
    out = df.select(F.col(id_col), bucket.alias("bucket"),
                    sample_bucket_col(id_col, salt).alias("_hb"))
    if sharded:
        # per-bucket totals from the slim pre-rank projection (scan +
        # map-side-combined agg, bucket-count-sized result)
        totals = out.groupBy("bucket").agg(F.count(F.lit(1)).alias("_n"))
        out = (sharded_keyed_rank(out, ["bucket"], "_hb", id_col)
               .withColumn("_slot0", F.col("_rk") - 1)
               .join(totals, "bucket"))
        full = (F.col("batch_idx") + 1) * batch_size <= F.col("_n")
    else:
        w = Window.partitionBy("bucket").orderBy(
            F.col("_hb"), F.col(id_col))
        out = out.withColumn("_slot0",
                             (F.row_number().over(w) - 1).cast("long"))
        n = Window.partitionBy("bucket")
        full = ((F.col("batch_idx") + 1) * batch_size
                <= F.max(F.col("_slot0") + 1).over(n))
    # batch_idx stays LONG: a bucket with >2^31*batch_size rows (the
    # 10^12-image regime the sharded path targets) would wrap an int
    # batch index; slot < batch_size always fits an int
    return (
        out.withColumn("batch_idx",
                       (F.col("_slot0") / batch_size).cast("long"))
        .withColumn("slot", (F.col("_slot0") % batch_size).cast("int"))
        .withColumn("full", full)
        .select(id_col, "bucket", "batch_idx", "slot", "full")
    )


def bucketed_batches_sql(table: str, id_col: str, w_col: str, h_col: str,
                         batch_size: int = 32,
                         salt: str = "batch-v1") -> str:
    """DuckDB twin: identical h32 in-bucket order and packing."""
    h = h32_sql(f"('{salt}:' || {id_col}::VARCHAR)")
    return f"""
    WITH b AS (
      SELECT {id_col},
             ({w_col}::VARCHAR || 'x' || {h_col}::VARCHAR) AS bucket,
             row_number() OVER (
               PARTITION BY ({w_col}::VARCHAR || 'x' || {h_col}::VARCHAR)
               ORDER BY ({h} % {BUCKETS}), {id_col}) - 1 AS _slot0,
             count(*) OVER (
               PARTITION BY ({w_col}::VARCHAR || 'x' || {h_col}::VARCHAR)
             ) AS _n
      FROM {table}
    )
    SELECT {id_col}, bucket,
           (_slot0 // {batch_size})::BIGINT AS batch_idx,
           (_slot0 % {batch_size})::INT AS slot,
           ((_slot0 // {batch_size}) + 1) * {batch_size} <= _n AS full
    FROM b
    """


def spatially_balanced_sample(df: DataFrame, id_col: str,
                              lon_col: str, lat_col: str,
                              res: int, cap: int,
                              salt: str = "geo-v1",
                              sharded: bool = True) -> DataFrame:
    """Spatially-stratified sampling: at most `cap` rows per spatial
    cell (functions/cells grid at `res`), chosen in deterministic h32
    order — the geo-training anti-oversampling knob (imagery corpora
    are massively skewed toward cities; a per-cell cap flattens the
    spatial prior without rand()).

    -> kept rows (id, cell, rk) with rk in [1, cap].

    Scale shape: sharded=True (default) ranks via sharded_keyed_rank
    with rank_cap=cap — the hot-city cell that motivates the op (and
    was its own skew risk as a single window task) spreads over many
    range partitions, and rows whose local rank already exceeds cap
    are dropped before the offsets join; output is bit-identical.
    sharded=False is the single-window-per-cell formulation kept for
    equivalence tests.
    """
    from pyspark.sql import Window

    from aef_mosaic_spark.cells import cell_id_col

    out = df.select(
        F.col(id_col),
        cell_id_col(F.col(lon_col), F.col(lat_col), res).alias("cell"),
        sample_bucket_col(id_col, salt).alias("_hb"),
    )
    if sharded:
        # filter on the LONG global rank FIRST: rank_cap only bounds
        # the local rank, and in a >2^31-row cell the int cast of _rk
        # would wrap and wrapped values could spuriously pass the cap
        out = (sharded_keyed_rank(out, ["cell"], "_hb", id_col,
                                  rank_cap=cap)
               .where(F.col("_rk") <= cap)
               .withColumn("rk", F.col("_rk").cast("int")))
    else:
        w = Window.partitionBy("cell").orderBy(F.col("_hb"), F.col(id_col))
        out = out.withColumn("rk", F.row_number().over(w))
    return out.where(F.col("rk") <= cap).select(id_col, "cell", "rk")


def spatially_balanced_sample_sql(source: str, id_col: str,
                                  lon_col: str, lat_col: str,
                                  res: int, cap: int,
                                  salt: str = "geo-v1") -> str:
    """DuckDB twin: identical cell encoding (cells.cell_id_sql) and
    h32 in-cell order. `source` is a SELECT yielding (id, lon, lat)."""
    from aef_mosaic_spark.cells import cell_id_sql

    h = h32_sql(f"('{salt}:' || {id_col}::VARCHAR)")
    return f"""
    WITH p AS ({source}),
    c AS (
      SELECT {id_col},
             {cell_id_sql(lon_col, lat_col, res)} AS cell,
             row_number() OVER (
               PARTITION BY {cell_id_sql(lon_col, lat_col, res)}
               ORDER BY ({h} % {BUCKETS}), {id_col}) AS rk
      FROM p
    )
    SELECT {id_col}, cell::BIGINT AS cell, rk::INT AS rk
    FROM c WHERE rk <= {cap}
    """


def equi_depth_profile(df: DataFrame, key_cols: list[str],
                       val_col: str, id_col: str,
                       n_bins: int = 10) -> DataFrame:
    """Equi-depth (quantile-bucket) profile: per key, split rows into
    n_bins equal-population bins by val_col and report per-bin stats
    -> key_cols + (bin_idx, n_rows, min_val, max_val, sum_val).

    The corpus-profiling twin of the log2 sketch (q118): EXACT bin
    edges (bin = ((rank-1) * n_bins) div key_count over the
    (val, id) order), at the cost of a rank instead of a register agg.

    Scale shape: the rank is sampling.sharded_keyed_rank with an
    equal-width value bucket as the monotone coarse key — no single
    window task per key (the q86 law); the per-key counts are a tiny
    agg broadcast back.
    """
    # monotone coarse bucket of the sort key; clamp into [0, BUCKETS)
    hb = F.expr(f"least(greatest(CAST({val_col} AS BIGINT), 0) div 2,"
                f" {BUCKETS - 1})")
    d = df.withColumn("_hbv", hb)
    r = sharded_keyed_rank(d, key_cols, "_hbv", id_col,
                           order_cols=[F.col(val_col)])
    n = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_n"))
    return (r.join(F.broadcast(n), on=list(key_cols))
            .withColumn("bin_idx",
                        F.expr(f"((_rk - 1) * {n_bins}) div _n"))
            .groupBy(*key_cols, "bin_idx")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min(val_col).alias("min_val"),
                 F.max(val_col).alias("max_val"),
                 F.sum(val_col).cast("long").alias("sum_val")))


def equi_depth_profile_sql(table: str, key: str, val: str,
                           id_col: str, n_bins: int = 10) -> str:
    """DuckDB twin: plain per-key window rank (the oracle never
    re-implements the sharding)."""
    return f"""
    WITH r AS (
      SELECT {key} AS k, {val} AS v,
             row_number() OVER (PARTITION BY {key}
                                ORDER BY {val}, {id_col}) AS rk,
             count(*) OVER (PARTITION BY {key}) AS n
      FROM {table})
    SELECT k AS {key}, ((rk - 1) * {n_bins}) // n AS bin_idx,
           count(*)::BIGINT AS n_rows,
           min(v) AS min_val, max(v) AS max_val,
           sum(v)::BIGINT AS sum_val
    FROM r GROUP BY k, ((rk - 1) * {n_bins}) // n
    """
