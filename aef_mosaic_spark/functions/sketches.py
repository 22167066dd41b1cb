"""Mergeable cardinality / frequency sketches expressible identically
in Spark Columns AND ANSI SQL (DuckDB): HyperLogLog distinct-count and
Count-Min heavy hitters.

Why sketches are first-class at 100 TB: an exact COUNT(DISTINCT x)
shuffles every distinct value; an exact per-token frequency table is
O(vocabulary).  Both sketches here reduce to a FIXED-SIZE state
(m=2^p registers / d*w counters) whose partial aggregates are
algebraic (max / sum), so Spark's map-side partial aggregation turns
them into one tiny shuffle regardless of input size — and two sketch
tables built on disjoint corpus halves merge by the same max/sum,
which is what incremental daily ingest needs (sketch the delta, merge
with yesterday's registers, never rescan history).

Everything derives from the md5-based h32 law (functions/hashes.py) so
the DuckDB oracle computes the IDENTICAL sketch — unlike engine-native
approx_count_distinct, whose HLL++ bias tables an oracle cannot
reproduce.  All arithmetic that feeds the comparison is either exact
integer or exact-in-double (powers of two; see hll note below).

References: Flajolet et al. 2007 (HyperLogLog), Heule et al. 2013
(HLL++, whose bias-correction branch structure we follow),
Cormode & Muthukrishnan 2005 (Count-Min).  Reference repo has no
sketch surface; this extends the training-pipeline analytics family
(SURVEY.md "beyond-reference" ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashes import h32_col, h32_sql

# ---------------------------------------------------------------------------
# HyperLogLog
# ---------------------------------------------------------------------------
# h32 yields an unsigned 32-bit hash.  Top p bits -> register index j,
# remaining nbits = 32-p -> rho = position of the leftmost 1-bit
# (1-based), i.e. nbits - bitlength(w) + 1, computed EXACTLY via
# length(bin(w)) in both engines (no float log2 at any point).
#
# The register table (group_cols, j, max rho) IS the sketch.  The
# estimator sums 2^-rho over registers: every term is an exact dyadic
# double and the exponent spread (2^0 .. 2^-(nbits+1)) is < 52 bits,
# so the double sum is EXACT and therefore summation-order-independent
# — Spark's shuffled agg and DuckDB's serial agg agree bit-for-bit.
# The only transcendental is ln() on the small/large-range correction
# branches (libm vs JVM may differ in the last ulp); estimates are
# floor(E+0.5)-rounded to integers, where a 1-ulp wobble is ~1e-13
# relative and cannot move the integer except on exact .5 boundaries
# (gate-checked deterministically at all sf's).

_MIN_P = 7  # alpha_m closed form below is the m>=128 constant


def _alpha_times_m2(m: int) -> str:
    # 0.7213/(1 + 1.079/m) * m^2, spelled with identical literals in
    # both engines (the division is IEEE-exact-deterministic).
    return f"(0.7213e0 / (1e0 + 1.079e0 / {m}e0)) * {m}e0 * {m}e0"


def hll_registers(df: DataFrame, group_cols: list[str], value_col: str,
                  p: int = 8) -> DataFrame:
    """The mergeable sketch table: (group_cols..., j, r).

    One groupBy with an algebraic max -> Spark partial-aggregates
    map-side; the shuffle carries at most |groups| * 2^p rows no
    matter the input size."""
    if not (_MIN_P <= p <= 16):
        raise ValueError(f"p must be in [{_MIN_P}, 16], got {p}")
    nbits = 32 - p
    mask = (1 << nbits) - 1
    withh = df.select(*group_cols, h32_col(F.col(value_col)).alias("_h"))
    reg = withh.select(
        *group_cols,
        F.shiftright(F.col("_h"), nbits).alias("j"),
        F.when(F.col("_h").bitwiseAND(F.lit(mask)) == 0, F.lit(nbits + 1))
         .otherwise(F.lit(nbits + 1)
                    - F.length(F.expr(f"bin(_h & {mask})"))).alias("rho"),
    )
    return (reg.groupBy(*group_cols, "j")
               .agg(F.max("rho").cast("int").alias("r")))


def hll_estimate(registers: DataFrame, group_cols: list[str],
                 p: int = 8) -> DataFrame:
    """(group_cols..., n_registers, approx_distinct) from a register
    table — HLL estimator with the classic small-range (linear
    counting) and 32-bit large-range corrections."""
    m = 1 << p
    agg = (registers.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).alias("n_registers"),
                F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("_z")))
    v = F.lit(m) - F.col("n_registers")          # zero registers
    z = F.col("_z") + v.cast("double")           # they contribute 2^0
    e_raw = F.expr(_alpha_times_m2(m)) / z
    two32 = float(1 << 32)
    est = (F.when((e_raw <= F.lit(2.5 * m)) & (v > 0),
                  F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")))
            .when(e_raw > F.lit(two32 / 30.0),
                  F.lit(-two32) * F.log(F.lit(1.0) - e_raw / F.lit(two32)))
            .otherwise(e_raw))
    return agg.select(
        *group_cols, "n_registers",
        F.floor(est + F.lit(0.5)).cast("long").alias("approx_distinct"))


def hll_distinct(df: DataFrame, group_cols: list[str], value_col: str,
                 p: int = 8) -> DataFrame:
    """Convenience: registers + estimate in one call."""
    return hll_estimate(hll_registers(df, group_cols, value_col, p=p),
                        group_cols, p=p)


def hll_distinct_sql(source: str, group_cols: list[str], value_expr: str,
                     p: int = 8) -> str:
    """DuckDB twin of hll_distinct over `source` (a table name or a
    parenthesized subquery).  Identical hash, register, and estimator
    literals — the sketch, not just the answer, matches."""
    if not (_MIN_P <= p <= 16):
        raise ValueError(f"p must be in [{_MIN_P}, 16], got {p}")
    nbits = 32 - p
    mask = (1 << nbits) - 1
    m = 1 << p
    g = ", ".join(group_cols)
    gpfx = (g + ", ") if group_cols else ""
    two32 = float(1 << 32)
    return f"""
    WITH hh AS (SELECT {gpfx}{h32_sql(value_expr)} AS h FROM {source}),
    reg AS (
      SELECT {gpfx}(h >> {nbits}) AS j,
             max(CASE WHEN (h & {mask}) = 0 THEN {nbits + 1}
                      ELSE {nbits + 1} - length(bin(h & {mask}))
                 END)::INT AS r
      FROM hh GROUP BY {gpfx}j),
    est AS (
      SELECT {gpfx}count(*) AS n_registers,
             sum(power(2e0, -r)) AS z
      FROM reg {("GROUP BY " + g) if group_cols else ""}),
    fin AS (
      SELECT {gpfx}n_registers,
             ({_alpha_times_m2(m)}) / (z + ({m} - n_registers)) AS e_raw,
             ({m} - n_registers) AS v
      FROM est)
    SELECT {gpfx}n_registers::BIGINT AS n_registers,
           floor(CASE
             WHEN e_raw <= {2.5 * m} AND v > 0
               THEN {m}e0 * ln({m}e0 / v)
             WHEN e_raw > {two32 / 30.0}
               THEN -{two32} * ln(1e0 - e_raw / {two32})
             ELSE e_raw END + 0.5e0)::BIGINT AS approx_distinct
    FROM fin
    """


# ---------------------------------------------------------------------------
# Count-Min heavy hitters
# ---------------------------------------------------------------------------

def cms_counts(df: DataFrame, value_col: str, d: int = 4,
               w: int = 1024) -> DataFrame:
    """Count-Min sketch of the value stream (one input row = one
    occurrence) -> (i, bucket, cnt), at most d*w rows.

    Each of the d hash rows uses h32 seeded by the row index; the
    build is one explode(d) + one groupBy sum — algebraic, so the
    shuffle moves <= d*w partial rows per map task regardless of
    stream size, and two sketches merge by summing buckets."""
    pairs = F.array(*[
        F.struct(F.lit(i).alias("i"),
                 F.pmod(h32_col(F.concat(F.lit(f"{i}:"), F.col(value_col))),
                        F.lit(w)).alias("bucket"))
        for i in range(d)
    ])
    return (df.select(F.explode(pairs).alias("p"))
              .select("p.i", "p.bucket")
              .groupBy("i", "bucket")
              .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def cms_heavy_hitters(df: DataFrame, value_col: str, k: int = 20,
                      d: int = 4, w: int = 1024) -> DataFrame:
    """Top-k values by Count-Min ESTIMATED count, with the exact count
    alongside -> (value, est_count, exact_count), est >= exact always.

    The probe side here is the exact distinct-value table (fine at
    test scale and the honest way to verify est>=exact); at 100 TB the
    candidate set would come from per-partition local top-k instead —
    the sketch table itself stays d*w rows and broadcastable either
    way.  Deterministic total order: (est DESC, value ASC)."""
    cms = cms_counts(df, value_col, d=d, w=w)
    exact = (df.groupBy(F.col(value_col).alias("value"))
               .agg(F.count(F.lit(1)).cast("long").alias("exact_count")))
    probes = exact.select(
        "value", "exact_count",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("i"),
                     F.pmod(h32_col(F.concat(F.lit(f"{i}:"),
                                             F.col("value"))),
                            F.lit(w)).alias("bucket"))
            for i in range(d)
        ])).alias("p")).select("value", "exact_count", "p.i", "p.bucket")
    est = (probes.join(F.broadcast(cms), ["i", "bucket"])
           .groupBy("value", "exact_count")
           .agg(F.min("cnt").cast("long").alias("est_count")))
    return (est.select("value", "est_count", "exact_count")
               .orderBy(F.desc("est_count"), F.asc("value"))
               .limit(k))


def cms_heavy_hitters_sql(occurrences: str, k: int = 20, d: int = 4,
                          w: int = 1024) -> str:
    """DuckDB twin of cms_heavy_hitters.  `occurrences` is a
    parenthesized subquery yielding one row per occurrence with a
    single column `value`."""
    def bucket(val_expr: str, i: int) -> str:
        seeded = f"'{i}:' || {val_expr}"
        return f"({h32_sql(seeded)} % {w})"

    cms_rows = " UNION ALL ".join(
        f"SELECT {i} AS i, {bucket('value', i)} AS bucket FROM occ"
        for i in range(d))
    probe_rows = " UNION ALL ".join(
        f"SELECT value, exact_count, {i} AS i, {bucket('value', i)} AS bucket"
        f" FROM exact" for i in range(d))
    return f"""
    WITH occ AS (SELECT value FROM {occurrences} t),
    cms AS (SELECT i, bucket, count(*)::BIGINT AS cnt
            FROM ({cms_rows}) GROUP BY i, bucket),
    exact AS (SELECT value, count(*)::BIGINT AS exact_count
              FROM occ GROUP BY value),
    probes AS ({probe_rows}),
    est AS (SELECT p.value, p.exact_count, min(c.cnt)::BIGINT AS est_count
            FROM probes p JOIN cms c ON p.i = c.i AND p.bucket = c.bucket
            GROUP BY p.value, p.exact_count)
    SELECT value, est_count, exact_count FROM est
    ORDER BY est_count DESC, value ASC LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Log2-bucket quantile histogram (HdrHistogram / DDSketch-with-gamma-2)
# ---------------------------------------------------------------------------
# An exact quantile needs a global sort (or an exact histogram of the
# full value domain); this sketch buckets every positive integer value
# by floor(log2(v)) — computed EXACTLY as length(bin(v)) - 1 in both
# engines, no float log anywhere — giving a guaranteed 2x relative
# error bound (the returned estimate `est_lo` = 2^bucket satisfies
# est_lo <= true order statistic < 2*est_lo) with O(64) state per
# group.  Like the HLL/CMS sketches above the bucket table is the
# mergeable state: counts add, so per-partition / per-day histograms
# roll up without rescanning (tested).  Quantile rule (deterministic,
# integer-only): the answer bucket is the smallest bucket whose
# cumulative count reaches ceil(q/100 * total).
# References: Dynamic histograms in HdrHistogram (Tene), DDSketch
# (Masson et al., VLDB 2019) — this is the gamma=2 special case whose
# bucket index is exact integer bit-length.


def log2_histogram(df: DataFrame, group_cols: list[str],
                   value_col: str) -> DataFrame:
    """Mergeable per-group log2 bucket counts -> (group_cols...,
    bucket, cnt).  Values must be >= 1 (raise upstream or filter;
    bucket = bit_length - 1)."""
    b = (F.length(F.expr(f"bin({value_col})")) - 1).alias("bucket")
    return (df.groupBy(*group_cols, b)
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def log2_quantiles(df: DataFrame, group_cols: list[str], value_col: str,
                   qs: tuple = (50, 90, 99)) -> DataFrame:
    """Quantile estimates from the log2 sketch -> (group_cols..., q,
    bucket, est_lo): est_lo = 2^bucket, the guaranteed-within-2x lower
    bound of the ceil-rank order statistic."""
    from pyspark.sql import Window

    hist = log2_histogram(df, group_cols, value_col)
    w = (Window.partitionBy(*group_cols).orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.withColumn("cum", F.sum("cnt").over(w)) \
        .withColumn("total", F.sum("cnt").over(
            Window.partitionBy(*group_cols)))
    quants = F.explode(F.array(*[F.lit(int(q)) for q in qs])).alias("q")
    probe = cum.select(*group_cols, "bucket", "cum", "total", quants)
    need = F.expr("(total * q + 99) div 100")
    ans = (probe.where(F.col("cum") >= need)
           .groupBy(*group_cols, "q")
           .agg(F.min("bucket").cast("int").alias("bucket")))
    return ans.select(*group_cols, "q", "bucket",
                      F.expr("shiftleft(CAST(1 AS BIGINT), bucket)")
                      .alias("est_lo"))


def log2_quantiles_sql(source: str, group_cols: list[str],
                       value_expr: str, qs: tuple = (50, 90, 99)) -> str:
    """DuckDB twin of log2_quantiles over `source` (table name or
    parenthesized subquery)."""
    gc = ", ".join(group_cols)
    qlist = ", ".join(str(int(q)) for q in qs)
    return f"""
    WITH hist AS (
        SELECT {gc}, (length(bin({value_expr})) - 1)::INT AS bucket,
               count(*)::BIGINT AS cnt
        FROM {source} GROUP BY {gc}, bucket),
    cum AS (
        SELECT {gc}, bucket, cnt,
               sum(cnt) OVER (PARTITION BY {gc} ORDER BY bucket
                              ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
               sum(cnt) OVER (PARTITION BY {gc})::BIGINT AS total
        FROM hist),
    probe AS (
        SELECT {gc}, bucket, cum, total, q
        FROM cum, (SELECT unnest([{qlist}]) AS q)),
    ans AS (
        SELECT {gc}, q, min(bucket)::INT AS bucket
        FROM probe WHERE cum >= (total * q + 99) // 100
        GROUP BY {gc}, q)
    SELECT {gc}, q, bucket, (1::BIGINT << bucket)::BIGINT AS est_lo
    FROM ans
    """


def hll_rollup_cube(df: DataFrame, fine_cols: list[str],
                    coarse_cols: list[str], value_col: str,
                    p: int = 8) -> DataFrame:
    """Sketch CUBE: estimate distinct counts at a fine grain AND at a
    coarse rollup FROM THE SAME register table — the sketch analog of
    the tile-pyramid rollup-from-aggregate pattern (q125): the raw
    corpus is hashed ONCE at the fine grain; every coarser level is a
    register-table groupBy(max), never a corpus re-scan.

    Correct by max-associativity: rolling fine registers up with max
    yields EXACTLY the registers a direct coarse pass would produce,
    so the coarse estimates are bit-identical to a from-scratch
    sketch (the property the q139 oracle checks, and the reason a
    daily register table can serve weekly/monthly/all-time queries).

    -> (lvl, *fine_cols, n_registers, approx_distinct), where rolled
    levels carry -1 in the rolled-away columns ('fine' | 'rollup')."""
    dropped = [c for c in fine_cols if c not in coarse_cols]
    regs = hll_registers(df, fine_cols, value_col, p=p) \
        .localCheckpoint()  # feeds both levels — the scan-audit law
    fine = hll_estimate(regs, fine_cols, p=p) \
        .select(F.lit("fine").alias("lvl"), *fine_cols,
                "n_registers", "approx_distinct")
    coarse_regs = (regs.groupBy(*coarse_cols, "j")
                   .agg(F.max("r").cast("int").alias("r")))
    coarse = hll_estimate(coarse_regs, coarse_cols, p=p) \
        .select(F.lit("rollup").alias("lvl"),
                *[F.col(c) if c in coarse_cols
                  else F.lit(-1).cast("long").alias(c)
                  for c in fine_cols],
                "n_registers", "approx_distinct")
    return fine.unionByName(coarse)
