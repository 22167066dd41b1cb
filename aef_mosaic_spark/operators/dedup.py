"""Deduplication operators for a large-scale training-data pipeline
(driver requirement): exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

All pure DataFrame built-ins — no Python UDFs anywhere — so every
variant (a) runs JVM-side with map-side partial aggregation, and
(b) has an exact ANSI-SQL twin for the DuckDB oracle (see
__spark_entry__.py). Shuffle shape at 10^12 docs:

- exact/fingerprint: one groupBy on a 128-bit key (combiner-friendly),
- MinHash: map-side per-doc signatures (no exchange) -> explode(bands)
  -> equi-join on the band bucket — candidate pairs only ever
  materialize within a bucket, never a crossJoin,
- SimHash: banding on hash substrings, same property,
- cosine: sign-LSH bucketing (see operators/knn.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aef_mosaic_spark.functions.hashes import h32_col, minhash_coeffs, minhash_col
from aef_mosaic_spark.functions.text import fingerprint_col
from aef_mosaic_spark.operators.knn import bit_band_rows, bit_first_match
from aef_mosaic_spark.partitioning import spread_fanout, spread_input


def distinct_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token) pairs, distinct per doc."""
    return (
        df.select(F.col(id_col), F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                                                   r"\s+")).alias("token"))
        .where(F.col("token") != "")
        .distinct()
    )


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str,
                           normalized: bool = False) -> DataFrame:
    """-> (group_key, n_docs, min_id) for groups with >1 member.
    normalized=True dedups on the fingerprint (case/punct-insensitive)."""
    key = fingerprint_col(F.col(text_col)) if normalized else F.md5(F.col(text_col))
    return (
        df.select(key.alias("group_key"), F.col(id_col))
        .groupBy("group_key")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("min_id"))
        .where(F.col("n_docs") > 1)
    )


def _minhash_base(df: DataFrame, id_col: str, text_col: str,
                  k: int) -> DataFrame:
    """-> (id, hashes, n, mh0..mh{k-1}) over non-empty docs, zero
    shuffles: distinct tokens by array_distinct, each min an array_min
    over the per-token h32 array, `hashes` the xxhash64 token hashes
    the verify intersects. The h32 array is its own column first
    (no-CSE-in-lambdas law: inlined, md5 re-runs per permutation)."""
    base = token_sets(spread_input(df, id_col), id_col, text_col) \
        .where(F.col("n") > 0) \
        .withColumn("_h32", F.transform("tokens", lambda t: h32_col(t)))
    mhs = [
        F.array_min(F.transform("_h32", lambda h: minhash_col(h, a, b)))
        .alias(f"mh{i}")
        for i, (a, b) in enumerate(minhash_coeffs(k))
    ]
    return base.select(
        F.col(id_col),
        F.transform("tokens", lambda t: F.xxhash64(t)).alias("hashes"),
        F.col("n"), *mhs,
    )


def _band_rows(sigs: DataFrame, id_col: str, k: int,
               bands: int) -> DataFrame:
    """LSH banding of (id, mh0..mh{k-1}): each band value joins k/bands
    consecutive mins -> (id, bv0..bv{bands-1}, band_idx, band_val),
    one row per (doc, band)."""
    rows = k // bands
    bv = [
        F.concat_ws(":", *[F.col(f"mh{bi * rows + j}") for j in range(rows)])
        .alias(f"bv{bi}")
        for bi in range(bands)
    ]
    return sigs.select(F.col(id_col), *bv).withColumn(
        "band_idx", F.explode(F.array(*[F.lit(i) for i in range(bands)]))
    ).withColumn(
        "band_val",
        F.element_at(F.array(*[F.col(f"bv{i}") for i in range(bands)]),
                     F.col("band_idx") + 1),
    )


def _first_band_pairs(banded: DataFrame, id_col: str,
                      bands: int) -> DataFrame:
    """Band-bucket self-join of _band_rows output -> (id_a, id_b),
    id_a < id_b, each pair once: at its FIRST matching band (all
    earlier bands differ), so no distinct() over the multiply-matched
    join output. Assumes unique ids."""
    a = banded.alias("a")
    b = banded.alias("b")
    first_match = F.lit(True)
    for j in range(bands - 1):
        first_match = first_match & (
            (F.col("a.band_idx") <= j) | (F.col(f"a.bv{j}") != F.col(f"b.bv{j}"))
        )
    return (
        a.join(b, ["band_idx", "band_val"])
        .where((F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & first_match)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
    )


def _jaccard_verify(cand: DataFrame, sets: DataFrame, id_col: str,
                    threshold: float) -> DataFrame:
    """Exact Jaccard of candidates (id_a, id_b) over `sets` (id,
    hashes, n) -> (id_a, id_b, jaccard), 6 dp. Per-pair array_intersect
    of 64-bit token hashes: O(|A|+|B|) long compares, immune to
    frequent-token blowup (xxhash64 collisions ~2^-64 per pair); AQE
    picks broadcast or shuffle for the set side."""
    a = sets.select(F.col(id_col).alias("id_a"),
                    F.col("hashes").alias("_ta"),
                    F.col("n").alias("na"))
    b = sets.select(F.col(id_col).alias("id_b"),
                    F.col("hashes").alias("_tb"),
                    F.col("n").alias("nb"))
    return (
        cand.join(a, "id_a").join(b, "id_b")
        # exact length prefilter (Arasu/Bayardo-style): J <= min/max,
        # so min(n) < t*max(n) cannot reach the threshold — the int
        # compare prunes ~24% of candidates before the (expensive)
        # per-pair array_intersect
        .where(F.least("na", "nb") >= threshold * F.greatest("na", "nb"))
        .withColumn("inter", F.size(F.array_intersect("_ta", "_tb")))
        .withColumn("jaccard",
                    F.round(F.col("inter")
                            / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       k: int = 16) -> DataFrame:
    """-> (id, mh0..mh{k-1}) MinHash signature columns over distinct
    word tokens (shingle=1 word; Broder resemblance sketch); docs with
    no tokens have no row."""
    return _minhash_base(df, id_col, text_col, k) \
        .select(F.col(id_col), *[F.col(f"mh{i}") for i in range(k)])


def minhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            k: int = 16, bands: int = 4) -> DataFrame:
    """LSH banding: signature split into `bands` rows of k/bands mins;
    candidates = pairs agreeing on >=1 full band, one row per pair.
    -> (id_a, id_b), id_a < id_b. Assumes unique ids."""
    sigs = minhash_signatures(df, id_col, text_col, k)
    return _first_band_pairs(_band_rows(sigs, id_col, k, bands), id_col, bands)


def token_sets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, tokens array<string> distinct, n int)."""
    toks = F.array_distinct(
        F.filter(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
                 lambda t: t != "")
    )
    return df.select(F.col(id_col), toks.alias("tokens")) \
             .withColumn("n", F.size("tokens"))


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  threshold: float, candidates: DataFrame | None = None
                  ) -> DataFrame:
    """Exact token-set Jaccard -> (id_a, id_b, jaccard).

    With `candidates` (id_a, id_b): candidate-scoped verification
    (_jaccard_verify) — the scalable shape, since a corpus with a
    small vocabulary makes every token a hot join key. Without
    candidates: token equi-join reduction over all pairs (pairs
    materialize per shared token, never a crossJoin)."""
    if candidates is not None:
        ts = token_sets(df, id_col, text_col).withColumn(
            "hashes", F.transform("tokens", lambda t: F.xxhash64(t))
        )
        return _jaccard_verify(candidates, ts, id_col, threshold)
    toks = distinct_tokens(df, id_col, text_col)
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(b, "token")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a").join(nb, "id_b")
        .withColumn("jaccard",
                    F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            threshold: float = 0.7, k: int = 16,
                            bands: int = 4) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard — the standard
    two-phase near-dup pipeline. -> (id_a, id_b, jaccard); equal to
    jaccard_pairs(candidates=minhash_candidate_pairs(...)). Assumes
    unique ids.

    Plan shape (r6): ONE per-doc base table (_minhash_base) is lazily
    localCheckpointed and feeds all four consumers (the two banded
    self-join sides and the two verify sides), so the corpus is
    scanned + tokenized + md5-hashed exactly ONCE instead of four
    times (Catalyst does not reuse multi-consumer subtrees — the
    scan-audit law). The checkpoint is O(docs) compact rows (token
    hashes + k longs); it spills via MEMORY_AND_DISK storage at
    scale."""
    base = _minhash_base(df, id_col, text_col, k).localCheckpoint(eager=False)
    cand = _first_band_pairs(_band_rows(base, id_col, k, bands), id_col, bands)
    return _jaccard_verify(cand, base, id_col, threshold)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str, n: int = 2,
                        threshold: float = 0.3) -> DataFrame:
    """Word n-gram (shingle) Jaccard: grams built JVM-side with
    transform over index sequences; then the same equi-join reduction."""
    # two-step select (r6): the token array materializes as its own
    # column before the gram lambda references it — inlined, the regex
    # split re-runs per gram element (no-CSE-in-lambdas law, O(L^2))
    tdf = df.select(F.col(id_col),
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
                    .alias("_toks"))
    toks = F.col("_toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)) ),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int"))
                                         for j in range(n)]),
        )
    )
    gdf = tdf.select(F.col(id_col), F.explode(grams).alias("gram"))
    sizes = gdf.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = gdf.alias("a"), gdf.alias("b")
    inter = (
        a.join(b, "gram")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "id_a").join(nb, "id_b")
        .withColumn("jaccard",
                    F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _with_h64(toks: DataFrame) -> DataFrame:
    """63-bit token hash from two md5-derived halves (hi truncated to
    31 bits so hi*2^32 + lo stays positive in signed 64-bit — required
    for the SQL oracle twin, where overflow is an error)."""
    return toks.withColumn("h_lo", h32_col(F.col("token"))).withColumn(
        "h_hi", h32_col(F.concat(F.lit("\x01"), F.col("token"))) % F.lit(2147483648)
    ).withColumn("h64", F.col("h_hi") * F.lit(4294967296) + F.col("h_lo"))


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash (Charikar) over word tokens: per bit, vote
    +1/-1 by the bit of the 64-bit token hash; sign of the vote ->
    bit. -> (id, simhash).

    Explode-free default: 64 partial-sum aggregates over the token
    rows (one per bit, all JVM expressions with map-side combine), so
    the shuffle carries 64 longs PER DOCUMENT instead of 64 rows PER
    TOKEN (~64x less shuffle input than the exploded variant below at
    typical ~1k-token documents; same output bit-for-bit).

    r6: per-doc distinct tokens come from the map-side array_distinct
    projection (token_sets) instead of a global distinct() — drops a
    full-token-stream exchange from the plan (2 Exchange -> 1); rows
    feeding the vote aggregation are identical for unique-id inputs
    (every declared corpus)."""
    toks = _with_h64(
        token_sets(spread_input(df, id_col), id_col, text_col)
        .select(F.col(id_col), F.explode("tokens").alias("token")))
    votes = toks.groupBy(id_col).agg(*[
        F.sum(F.when(F.expr(f"shiftrightunsigned(h64, {b}) & 1") == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v{b}")
        for b in range(64)
    ])
    # literal shift counts constant-fold; CAST(1 AS BIGINT) because a
    # long F.lit through shiftleft(.., 63) overflows py4j (CLAUDE.md)
    bit_sum = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b}) "
        f"ELSE CAST(0 AS BIGINT) END)" for b in range(64))
    return votes.select(F.col(id_col), F.expr(bit_sum).alias("simhash"))


def simhash_exploded(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The textbook (bit, vote)-row formulation: explode 64 bit rows
    per token, two groupBys. Kept as the independently-shaped twin of
    simhash() — same output bit-for-bit, ~64x more shuffle input; the
    gate checks both against the same oracle (q25/q68)."""
    toks = _with_h64(distinct_tokens(df, id_col, text_col))
    bits = toks.select(
        F.col(id_col), F.col("h64"),
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("bit"),
    ).withColumn(
        # column-valued shift counts need the SQL form (the PySpark
        # Column API only takes literal counts)
        "vote",
        F.when(F.expr("shiftrightunsigned(h64, CAST(bit AS INT)) & 1") == 1,
               F.lit(1)).otherwise(F.lit(-1)),
    )
    votes = bits.groupBy(id_col, "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.expr("CASE WHEN v > 0 THEN shiftleft(1L, CAST(bit AS INT)) ELSE 0L END")
        ).alias("simhash")
    )


def hamming_near_duplicates(df: DataFrame, id_col: str, hash_col: str,
                            max_hamming: int = 8,
                            n_bands: int = 4) -> DataFrame:
    """Banded near-dup join over ANY 64-bit hash column (simhash,
    image phash, audio fingerprint): band into 64/n_bands-bit keys
    (knn.bit_band_rows; complete recall for hamming < n_bands, good
    above), equi-join on (band_idx, band_val) — never a crossJoin —
    emit each pair once at its first agreeing band
    (knn.bit_first_match), verify exact Hamming <= max_hamming.
    -> (id_a, id_b, hamming). Requires unique ids: repeated ids give
    repeated pairs."""
    # spread_fanout: the (id, hash) table is thin but the band-bucket
    # self-join multiplies rows by the bucket sizes; without an
    # explicit partition count AQE coalesces the tiny pre-join bytes
    # to 1-2 partitions and the fan-out runs on 1-2 cores
    banded = bit_band_rows(spread_fanout(
        df.select(F.col(id_col), F.col(hash_col).alias("_h")), id_col),
        "_h", n_bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band_idx", "band_val"])
        .where((F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
               & bit_first_match("a._h", "b._h", n_bands))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h")))
                .cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            max_hamming: int = 8, n_bands: int = 4) -> DataFrame:
    """SimHash near-dups: band the 64-bit simhash into 16-bit keys
    (complete for hamming < n_bands; good recall above), verify exact
    Hamming <= max_hamming. -> (id_a, id_b, hamming)."""
    sigs = simhash(df, id_col, text_col)
    return hamming_near_duplicates(sigs, id_col, "simhash",
                                   max_hamming=max_hamming, n_bands=n_bands)


# Residual-edge bound for the driver-side union-find finish in
# connected_components: 100k edges ~ 1.6 MB through Arrow (bounded
# collect). Module constant so tests can force the distributed loop.
CC_DRIVER_RESIDUAL_CAP = 100_000


def connected_components(edges: DataFrame, nodes: DataFrame,
                         max_iter: int = 20) -> DataFrame:
    """Connected components by iterative min-label propagation (the
    classic Spark CC): label(v) starts as v, then repeatedly takes the
    min over neighbors until fixpoint — O(component diameter)
    iterations, each one equi-join + combiner-friendly groupBy.
    edges: (id_a, id_b) undirected (either orientation); nodes: (id).
    -> (id, cluster_id = min id reachable). localCheckpoint() between
    iterations cuts the lineage so plan size stays O(1) per iteration
    instead of growing geometrically.

    ONE-SHOT pre-contraction before the loop: rep(v) = min(v, min
    neighbor), edges rewritten through rep and self-loops dropped.
    Near-dup graphs are clique-shaped, so this one O(E) pass removes
    almost every edge (a clique collapses to its min immediately) and
    the iterative loop runs on the small residual instead of
    re-joining the full edge set every round — measured 21x
    super-linear growth at a 4x-replicated corpus without it (the
    verified pair set grows quadratically in clique size, BENCH 7f/9f,
    and each loop iteration was O(E)). Single-shot only: ITERATED
    contraction has a pathological geometric per-iteration slowdown
    on this host (BENCH 9c) — do not move this into the loop.
    Correctness: rep(v) is always in v's component, contracted
    components quotient the originals, and the component min m has
    rep(m) = m, so composing cc(rep(v)) yields the same min-id
    labeling."""
    # no distinct here: min-propagation and the rep computation are
    # insensitive to duplicate edges, the two union orientations can't
    # collide for canonical (a < b) pair inputs, and the contracted
    # residual below dedups anyway. Hash-partition by src instead —
    # same single shuffle a distinct would pay, but it (a) balances
    # the checkpointed blocks (the union of the verify join's output
    # partitions is skewed at scale — measured 957 s vs 557 s at a 4x
    # corpus when checkpointed as-is) and (b) pre-aligns the
    # rep-groupBy and rewrite-join on src
    # pinned_shuffle (r6): the bare repartition("src") was
    # AQE-coalescible — a few-MB edge table folded to 1-2 partitions
    # and every loop iteration ran on 1-2 cores.
    # explode instead of union (r6): union(edges, edges.swapped)
    # executed the ENTIRE upstream pair pipeline twice in the sym0
    # job (Catalyst does not reuse the duplicated subtree — scan-audit
    # law); the explode emits both orientations from one pass.
    from aef_mosaic_spark.partitioning import pinned_shuffle

    sym0 = pinned_shuffle(
        edges.select(F.explode(F.array(
            F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
            F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
        )).alias("_e")).select("_e.src", "_e.dst"), "src") \
        .localCheckpoint()
    rep = (nodes.join(
        sym0.groupBy("src").agg(F.min("dst").alias("_n"))
            .select(F.col("src").alias("id"),
                    F.least("src", "_n").alias("_rep")),
        "id", "left")
        .select("id", F.coalesce("_rep", F.col("id")).alias("rep"))
        .localCheckpoint())
    rs = rep.select(F.col("id").alias("src"), F.col("rep").alias("_s2"))
    rd = rep.select(F.col("id").alias("dst"), F.col("rep").alias("_d2"))
    sym = (sym0.join(rs, "src").join(rd, "dst")
           .select(F.col("_s2").alias("src"), F.col("_d2").alias("dst"))
           .where(F.col("src") != F.col("dst"))
           .distinct().localCheckpoint())
    # small-residual fast path (r6): after pre-contraction a clique-
    # shaped near-dup graph leaves a few-thousand-edge residual, but
    # the distributed loop still pays ~2 fixed-latency jobs per
    # iteration. A BOUNDED driver finish (cap = 100k edges ~ 1.6 MB
    # through Arrow, the same bounded-collect class as the codebook /
    # probe-list collects) runs exact min-label union-find locally and
    # broadcasts the labels back; above the cap — chain graphs, real
    # scale — the distributed loop below runs unchanged. Output is
    # identical either way (min id per component, any algorithm).
    resid = sym.count()
    if resid <= CC_DRIVER_RESIDUAL_CAP:
        if resid == 0:
            return rep.select("id", F.col("rep").alias("cluster_id"))
        import pandas as pd

        le = sym.toPandas()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for s, d in zip(le["src"].tolist(), le["dst"].tolist()):
            rs_, rd_ = find(s), find(d)
            if rs_ != rd_:
                parent[max(rs_, rd_)] = min(rs_, rd_)
        touched = set(le["src"].tolist()) | set(le["dst"].tolist())
        lbl = {v: find(v) for v in touched}
        small = edges.sparkSession.createDataFrame(
            pd.DataFrame({"rep": list(lbl.keys()),
                          "_lbl": list(lbl.values())}))
        return (rep.join(F.broadcast(small), "rep", "left")
                .select("id", F.coalesce("_lbl", F.col("rep"))
                        .alias("cluster_id")))
    labels = rep.select(F.col("rep").alias("id")).distinct() \
        .select(F.col("id"), F.col("id").alias("label")) \
        .localCheckpoint()
    for _ in range(max_iter):
        nbr = (sym.join(labels.withColumnRenamed("id", "src"), "src")
               .groupBy("dst").agg(F.min("label").alias("nmin"))
               .withColumnRenamed("dst", "id"))
        upd = F.least("label", F.coalesce("nmin", F.col("label")))
        # the convergence flag rides the propagation pass: one
        # materialization, then a cheap agg over checkpointed rows.
        # Two-step select: an output alias named "label" would shadow
        # the input "label" inside the flag expression on project
        # collapse (the q62 alias-shadowing trap, CLAUDE.md)
        new = (labels.join(nbr, "id", "left")
               .select("id", upd.alias("_new"),
                       (upd != F.col("label")).cast("int").alias("_chg"))
               .localCheckpoint())
        changed = new.agg(F.sum("_chg")).collect()[0][0]
        labels = new.select("id", F.col("_new").alias("label"))
        if not changed:
            break
    # compose back through the pre-contraction: label(v) = label(rep(v))
    return (rep.join(labels.withColumnRenamed("id", "rep"), "rep")
            .select("id", F.col("label").alias("cluster_id")))


def minhash_band_rows(df: DataFrame, id_col: str, text_col: str,
                      k: int = 16, bands: int = 4) -> DataFrame:
    """LSH band rows -> (id, band_idx, band_val): the per-doc banding
    of the incremental update path."""
    sigs = minhash_signatures(df, id_col, text_col, k)
    return _band_rows(sigs, id_col, k, bands) \
        .select(F.col(id_col).alias("id"), "band_idx", "band_val")


def update_near_duplicate_clusters(df_all: DataFrame, new_ids: DataFrame,
                                   prior: DataFrame, id_col: str,
                                   text_col: str, threshold: float = 0.8,
                                   k: int = 16, bands: int = 4,
                                   max_iter: int = 20) -> DataFrame:
    """Batch-incremental cluster maintenance (the daily-crawl shape):
    given the corpus AFTER an increment (`df_all`), the increment's ids
    (`new_ids`, column `id`), and the PRIOR assignment (`prior`:
    id, cluster_id over the old docs), return the updated assignment
    for every doc — EXACTLY equal to a full recompute (pytest-proven),
    at the cost of the increment instead of the corpus:

    - candidates: new docs' band rows joined against ALL band rows
      (asymmetric equi-join) — old×old pairs are never generated; text
      is immutable, so old×old connectivity is already encoded in
      `prior`;
    - exact-Jaccard verify on the new-touching candidates only;
    - connected components over (new verified edges) UNION (star edges
      id -> prior cluster_id): the prior components collapse to stars,
      so merges between old clusters via a new bridge doc — and
      canonical-id changes when a new doc has a smaller id — resolve
      correctly."""
    banded = minhash_band_rows(df_all, id_col, text_col, k, bands)
    b_new = banded.join(new_ids, "id", "left_semi")
    # distinct(), not a first-match predicate: the band rows carry
    # only (id, band_idx, band_val), no earlier-band values
    cand = (b_new.alias("a")
            .join(banded.alias("b"), ["band_idx", "band_val"])
            .where(F.col("a.id") != F.col("b.id"))
            .select(F.least("a.id", "b.id").alias("id_a"),
                    F.greatest("a.id", "b.id").alias("id_b"))
            .distinct())
    pairs = jaccard_pairs(df_all, id_col, text_col, threshold,
                          candidates=cand)
    star = prior.select(F.col(id_col).alias("id_a"),
                        F.col("cluster_id").alias("id_b"))
    nodes = df_all.select(F.col(id_col).alias("id")).distinct()
    cc = connected_components(
        pairs.select("id_a", "id_b").union(star), nodes, max_iter=max_iter)
    return cc.select(F.col("id").alias(id_col), "cluster_id")


def near_duplicate_clusters(df: DataFrame, id_col: str, text_col: str,
                            threshold: float = 0.8, k: int = 16,
                            bands: int = 4, max_iter: int = 20,
                            pairs: DataFrame | None = None) -> DataFrame:
    """Near-dup CLUSTER ASSIGNMENT -> (id, cluster_id): connected
    components over the verified MinHash near-dup graph, cluster_id =
    min doc id in the component (singletons map to themselves).

    This is the scale-safe output shape for deduplication: pair
    enumeration grows QUADRATICALLY in duplicate-clique size (measured
    in BENCH 7f — a 10x-replicated corpus makes the verified pair set
    ~100x larger), while the cluster table is always O(n) rows and
    directly drives keep-one-per-cluster filtering
    (where id = cluster_id).

    pairs=: a precomputed verified pair table with (id_a, id_b)
    columns — e.g. a persisted minhash_near_duplicates output or the
    incremental band-index pipeline's pairs. Skips the minhash +
    verify stages entirely (the dominant cost; the build/probe split,
    like knn's codes=); threshold/k/bands are then ignored."""
    if pairs is None:
        pairs = minhash_near_duplicates(df, id_col, text_col,
                                        threshold=threshold, k=k,
                                        bands=bands)
    nodes = df.select(F.col(id_col).alias("id")).distinct()
    cc = connected_components(pairs.select("id_a", "id_b"), nodes,
                              max_iter=max_iter)
    return cc.select(F.col("id").alias(id_col), "cluster_id")


def embedding_near_duplicates(df: DataFrame, id_col: str, vec_col: str,
                              threshold: float = 0.95,
                              method: str = "lsh", dim: int = 64,
                              n_planes: int = 64,
                              n_bands: int = 8) -> DataFrame:
    """Embedding-cosine near-dup pairs -> (id_a, id_b, sim).

    method='lsh' (DEFAULT — the 10^12-vector scale path): sign-LSH
    signature banding. Each vector gets an `n_planes`-bit signature
    (deterministic hyperplanes, knn.make_planes); candidates = pairs
    agreeing on >=1 of `n_bands` signature bands (an EQUI-join — never
    a crossJoin); exact cosine verifies each candidate. Pigeonhole
    guarantees recall for every pair whose signatures differ in
    < n_bands bits. Recall math (corrected, ADVICE r2): per-bit
    disagreement prob is p = acos(sim)/pi, so the EXPECTED
    disagreement at sim=0.95 is 64 * 0.1024 ~ 6.5 bits (9.2 at 0.90)
    — NOT guaranteed < 8; a pair escapes only if every one of the 8
    bands catches a differing bit, prob ~ (1 - (1-p)^8)^8 ~ 6% at sim
    EXACTLY 0.90, falling fast above (1% at 0.95, ~0 at 0.99 where
    real near-dups live). Recall is therefore probabilistic at the
    threshold boundary and data-dependent: the gate asserts exact
    equality against the all-pairs oracle (q27 vs q27b) on its corpus
    — that equality, not this estimate, is the verified property;
    raise n_bands (narrower bands -> more candidates) for corpora
    dense at the boundary. The candidate join output carries both vectors, so verify
    adds no extra join. Each candidate pair is emitted once, at its
    first agreeing band (knn.bit_first_match); requires unique ids —
    repeated ids give repeated pairs.

    method='exact': all-pairs crossJoin — the small-n oracle-parity
    baseline ONLY (O(n^2); unusable at corpus scale, and required when
    the threshold is so low that bucketing cannot prune, e.g. <0.7 on
    near-orthogonal data).
    """
    from aef_mosaic_spark.operators.knn import cosine_sim, lsh_signature, make_planes

    if method == "exact":
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
        return (
            a.crossJoin(b)
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("sim", F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6))
            .where(F.col("sim") >= threshold)
            .select("id_a", "id_b", "sim")
        )

    planes = make_planes(dim, n_planes)
    # spread_input: parallelize the n_planes dot products over the
    # session's cores (a single-file scan otherwise runs them on one
    # task); the explicit-N spread also keeps the band-bucket fan-out
    # join off the 1-2 AQE-coalesced partitions
    sigs = spread_input(df, id_col).select(
        F.col(id_col), F.col(vec_col).alias("_v"),
        lsh_signature(F.col(vec_col), planes).alias("_sig"),
    )
    banded = bit_band_rows(sigs, "_sig", n_bands, bits=n_planes)
    a = banded.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
                      F.col("_sig").alias("_siga"), "band_idx", "band_val")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
                      F.col("_sig").alias("_sigb"), "band_idx", "band_val")
    first_match = bit_first_match("_siga", "_sigb", n_bands, bits=n_planes)
    return (
        a.join(b, ["band_idx", "band_val"])
        .where((F.col("id_a") < F.col("id_b")) & first_match)
        .withColumn("sim", F.round(cosine_sim(F.col("_va"), F.col("_vb")), 6))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def semdedup(items: DataFrame, id_col: str, vec_col: str,
             tau: float = 0.95, n_lists: int = 16, dim: int = 64,
             centroids: list[list[float]] | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic dedup by
    cluster-then-prune. Embeddings are k-means-clustered (the same
    deterministic md5-seeded codebook as knn.ivf_centroids, so the
    DuckDB oracle reproduces the clusters); within each cluster, items
    in a near-duplicate relation (cosine >= tau) are pruned down to
    the member FARTHEST from the centroid (the paper's keep rule —
    edge examples carry more training signal than cluster cores).

    -> (id, list, cent_sim, pruned). pruned(x) = exists y in the same
    cluster with cos(x, y) >= tau and (cent_sim(y) < cent_sim(x) or
    equal with y.id < x.id) — a pure pairwise rule, no iterative
    components needed.

    Scale shape (10^12 vectors): assignment is one vectorized matmul
    per Arrow batch; the pairwise step is an equi-join ON the cluster
    id, so work is sum(|cluster|^2) not n^2 — the paper runs exactly
    this regime at web scale with n_lists ~ sqrt(n). Skewed clusters
    are the documented risk; cap cluster radius via n_lists or salt
    the join as in spatial_join.
    """
    from aef_mosaic_spark.operators.knn import (_assign_lists, cosine_sim,
                                                ivf_centroids)

    if centroids is None:
        centroids = ivf_centroids(items.select(id_col, vec_col), vec_col,
                                  n_lists, dim)
    spark = items.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        schema="list int, _cv array<double>",
    )
    a = _assign_lists(items.select(F.col(id_col), F.col(vec_col).alias("_v")),
                      "_v", centroids, "_l", 1)
    a = (
        a.select(id_col, "_v", F.element_at("_l", 1).alias("list"))
        .join(F.broadcast(cents), "list")
        .withColumn("cent_sim", F.round(cosine_sim(F.col("_v"), F.col("_cv")), 6))
        .select(id_col, "_v", "list", "cent_sim")
    )
    other = a.select(
        F.col(id_col).alias("_oid"), F.col("_v").alias("_ov"),
        F.col("list"), F.col("cent_sim").alias("_ocs"),
    )
    dominated = (
        a.join(other, "list")
        .where(F.col("_oid") != F.col(id_col))
        .withColumn("_sim", F.round(cosine_sim(F.col("_v"), F.col("_ov")), 6))
        .where(
            (F.col("_sim") >= tau)
            & ((F.col("_ocs") < F.col("cent_sim"))
               | ((F.col("_ocs") == F.col("cent_sim"))
                  & (F.col("_oid") < F.col(id_col))))
        )
        .select(F.col(id_col)).distinct().withColumn("_p", F.lit(1))
    )
    return (
        a.join(dominated, id_col, "left")
        .select(id_col, "list", "cent_sim",
                F.col("_p").isNotNull().alias("pruned"))
    )


def semdedup_sql(tau: float = 0.95, n_lists: int = 16, dim: int = 64,
                 id_col: str = "vec_id", source: str | None = None) -> str:
    """DuckDB twin of semdedup: same md5-h32-ordered seeds, ONE Lloyd
    step with 6dp-rounded centroids (the q17b determinism recipe),
    rank-1 assignment, pairwise domination within clusters. `source`
    is a SELECT yielding ({id_col}, v DOUBLE[]); defaults to the
    embeddings table."""
    from aef_mosaic_spark.functions.hashes import h32_sql

    if source is None:
        source = f"SELECT {id_col}, embedding::DOUBLE[] AS v FROM embeddings"
    h = h32_sql(f"{id_col}::VARCHAR")
    return f"""
    WITH e AS ({source}),
    seeds AS (SELECT row_number() OVER (ORDER BY {h}, {id_col}) - 1 AS list, v
              FROM e ORDER BY {h}, {id_col} LIMIT {n_lists}),
    a0 AS (SELECT {id_col}, v, list FROM (
        SELECT e.{id_col}, e.v, s.list,
               row_number() OVER (PARTITION BY e.{id_col}
                 ORDER BY list_cosine_similarity(e.v, s.v) DESC, s.list) AS rk
        FROM e, seeds s) WHERE rk = 1),
    dims AS (SELECT a0.list, d.dim, a0.v[d.dim] AS val
             FROM a0, (SELECT unnest(generate_series(1, {dim})) AS dim) d),
    refined AS (SELECT list, array_agg(round(m, 6) ORDER BY dim) AS v
                FROM (SELECT list, dim, avg(val) AS m FROM dims
                      GROUP BY 1, 2) GROUP BY list),
    cents AS (SELECT s.list, coalesce(r.v, s.v) AS v
              FROM seeds s LEFT JOIN refined r USING (list)),
    ia AS (SELECT {id_col}, v, list, cent_sim FROM (
        SELECT e.{id_col}, e.v, c.list,
               round(list_cosine_similarity(e.v, c.v), 6) AS cent_sim,
               row_number() OVER (PARTITION BY e.{id_col}
                 ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.list) AS rk
        FROM e, cents c) WHERE rk = 1),
    dom AS (SELECT DISTINCT a.{id_col}
            FROM ia a JOIN ia b USING (list)
            WHERE b.{id_col} <> a.{id_col}
              AND round(list_cosine_similarity(a.v, b.v), 6) >= {tau!r}
              AND (b.cent_sim < a.cent_sim
                   OR (b.cent_sim = a.cent_sim AND b.{id_col} < a.{id_col})))
    SELECT ia.{id_col}, ia.list, ia.cent_sim,
           (dom.{id_col} IS NOT NULL) AS pruned
    FROM ia LEFT JOIN dom USING ({id_col})
    """


# ------------------------------------------------------------------ #
# Directional shingle containment (asymmetric near-dup)               #
# ------------------------------------------------------------------ #

CONTAIN_N = 3
CONTAIN_MAX_DF = 50


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = CONTAIN_N, threshold: float = 0.8,
                      max_df: int = CONTAIN_MAX_DF) -> DataFrame:
    """Directional containment C(A->B) = |G_A n G_B| / |G_A| over word
    n-gram shingles -> (id_src, id_dst, na, inter, containment).

    Jaccard misses the excerpt/quote/boilerplate-wrap case: a 40-token
    excerpt inside a 4000-token page scores J ~ 0.01 but C = 1.0
    (Broder 1997's *containment*, the measure behind quote/excerpt
    dedup in web-crawl curation).  Both directions are emitted; the
    src whose shingles are swallowed is the removal candidate.

    Law: shingles are distinct word n-grams (q24's gram construction);
    the measure is defined over shingles whose corpus document
    frequency is <= max_df — ubiquitous boilerplate shingles carry no
    duplication signal AND are exactly the join keys that blow up an
    inverted-index self-join, so the cap is simultaneously the
    semantic cleanup and the structural bound: each surviving shingle
    contributes <= max_df^2 candidate pairs, making the blocking join
    O(vocab * max_df^2) worst-case instead of O(hottest-key^2).
    Docs with zero rare shingles have no defined containment and emit
    nothing.  containment is quantized half-up at 1e6.

    Scale shape: one exchange on gram for the document-frequency
    window, one groupBy per doc for |G_A|, one capped equi-join for
    intersections; the filtered gram table is localCheckpointed (3
    consumers — the scan-audit law).
    """
    # two-step select (r6): materialize the token array first — the
    # inlined split re-ran per gram element (no-CSE-in-lambdas law)
    tdf = df.select(F.col(id_col),
                    F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
                    .alias("_toks"))
    toks = F.col("_toks")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", *[F.element_at(toks,
                                                      (i + j + 1).cast("int"))
                                         for j in range(n)]),
        )
    )
    gdf = tdf.select(F.col(id_col), F.explode(grams).alias("gram"))
    w = Window.partitionBy("gram")
    rare = (gdf.withColumn("dfreq", F.count(F.lit(1)).over(w))
            .where(F.col("dfreq") <= max_df)
            .select(id_col, "gram")
            .localCheckpoint(eager=False))
    na = rare.groupBy(id_col).agg(F.count(F.lit(1)).cast("long")
                                  .alias("na"))
    a, b = rare.alias("a"), rare.alias("b")
    inter = (a.join(b, "gram")
             .where(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
             .groupBy(F.col(f"a.{id_col}").alias("id_src"),
                      F.col(f"b.{id_col}").alias("id_dst"))
             .agg(F.count(F.lit(1)).cast("long").alias("inter")))
    return (inter
            .join(na.withColumnRenamed(id_col, "id_src"), "id_src")
            .withColumn("containment",
                        F.expr("floor(1e6 * CAST(inter AS DOUBLE)"
                               " / CAST(na AS DOUBLE) + 0.5e0) / 1e6"))
            .where(F.col("containment") >= threshold)
            .select("id_src", "id_dst", "na", "inter", "containment"))


def containment_pairs_sql(source_sql: str, id_col: str = "doc_id",
                          text_col: str = "text", n: int = CONTAIN_N,
                          threshold: float = 0.8,
                          max_df: int = CONTAIN_MAX_DF) -> str:
    """DuckDB twin — q24's 1-indexed gram law (out-of-range list
    elements are NULL and concat_ws skips them, matching Spark's
    element_at past the end)."""
    parts = ", ".join(f"w[i+{j}]" for j in range(n))
    return f"""
    WITH t AS (SELECT {id_col},
               string_split_regex(lower(trim({text_col})), '\\s+') AS w
               FROM ({source_sql})),
    grams AS MATERIALIZED (SELECT DISTINCT {id_col}, gram FROM (
      SELECT {id_col}, unnest(list_transform(
        generate_series(1, greatest(len(w) - {n - 1}, 1)),
        i -> concat_ws(' ', {parts}))) AS gram FROM t)),
    rare AS MATERIALIZED (
      SELECT {id_col}, gram FROM (
        SELECT *, count(*) OVER (PARTITION BY gram) AS dfreq FROM grams)
      WHERE dfreq <= {max_df}),
    sizes AS (SELECT {id_col}, count(*)::BIGINT AS na
              FROM rare GROUP BY 1),
    inter AS (SELECT a.{id_col} AS id_src, b.{id_col} AS id_dst,
                     count(*)::BIGINT AS inter
              FROM rare a JOIN rare b ON a.gram = b.gram
               AND a.{id_col} != b.{id_col}
              GROUP BY 1, 2)
    SELECT i.id_src, i.id_dst, s.na, i.inter,
           floor(1e6 * CAST(i.inter AS DOUBLE)
                 / CAST(s.na AS DOUBLE) + 0.5e0) / 1e6 AS containment
    FROM inter i JOIN sizes s ON i.id_src = s.{id_col}
    WHERE floor(1e6 * CAST(i.inter AS DOUBLE)
                / CAST(s.na AS DOUBLE) + 0.5e0) / 1e6 >= {threshold}
    """
