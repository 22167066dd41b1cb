"""kNN joins (north rule J10): Hamming over phash, cosine over
embeddings — exact baselines + LSH-blocked scale paths.

Everything JVM-side: `bit_count(xor)` for Hamming, `aggregate`/
`zip_with` for dot products, `row_number` windows for top-k. The only
pandas UDF is the optional brute-force rerank (not needed at test
scale). Both exact variants have ANSI-SQL twins for the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hamming(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def _topk(df: DataFrame, qcol: str, order: list, k: int) -> DataFrame:
    w = Window.partitionBy(qcol).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def knn_hamming_exact(queries: DataFrame, items: DataFrame, k: int,
                      q_id: str = "query_id", i_id: str = "item_id") -> DataFrame:
    """Exact kNN by Hamming distance on 64-bit phash. Broadcast the
    (small) query set against the (huge) item table — the standard
    shape for 'find neighbors of these probes in 10^12 rows'.
    Ties broken by item id for determinism."""
    q = queries.select(F.col(q_id), F.col("phash").alias("_qh"))
    i = items.select(F.col(i_id), F.col("phash").alias("_ih"))
    pairs = F.broadcast(q).crossJoin(i).where(F.col(q_id) != F.col(i_id))
    pairs = pairs.withColumn("dist", hamming(F.col("_qh"), F.col("_ih")).cast("int"))
    return _topk(pairs, q_id, [F.col("dist"), F.col(i_id)], k).select(
        q_id, i_id, "dist", "rank"
    )


def bit_band_rows(df: DataFrame, hash_col: str, n_bands: int,
                  bits: int = 64) -> DataFrame:
    """df + (band_idx, band_val): one row per band of bits/n_bands bits
    of the `bits`-bit `hash_col`. Hashes within Hamming < n_bands agree
    on >=1 band (pigeonhole). Column-valued shift counts need the SQL
    form (the Column API takes literal counts only)."""
    width = bits // n_bands
    return df.withColumn(
        "band_idx", F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1)))
    ).withColumn(
        "band_val",
        F.expr(f"shiftrightunsigned({hash_col}, CAST(band_idx * {width} AS INT))"
               f" & {(1 << width) - 1}"),
    )


def bit_first_match(ha: str, hb: str, n_bands: int, bits: int = 64):
    """Predicate for a bit_band_rows join on (band_idx, band_val) with
    full hashes in columns `ha`, `hb`: true only at the pair's FIRST
    agreeing band, so each pair of input rows is emitted once, with no
    distinct(). Requires unique ids: repeated ids give repeated pairs."""
    width = bits // n_bands
    return F.expr(
        f"band_idx = 0 OR forall(sequence(0, band_idx - 1), "
        f"j -> (shiftrightunsigned({ha} ^ {hb}, CAST(j * {width} AS INT))"
        f" & {(1 << width) - 1}) != 0)"
    )


def knn_hamming_banded(queries: DataFrame, items: DataFrame, k: int,
                       q_id: str = "query_id", i_id: str = "item_id",
                       n_bands: int = 4) -> DataFrame:
    """Scale path: LSH banding (bit_band_rows) — candidates = pairs
    sharing >=1 band (guaranteed to include every pair with Hamming
    distance < n_bands, pigeonhole), each emitted once at its first
    agreeing band (bit_first_match); then exact distance + top-k.
    Replaces the crossJoin with an equi-join on (band_idx, band_val).
    Requires unique q_id among queries and unique i_id among items."""
    q = bit_band_rows(queries.select(F.col(q_id), F.col("phash").alias("_qh")),
                      "_qh", n_bands)
    i = bit_band_rows(items.select(F.col(i_id), F.col("phash").alias("_ih")),
                      "_ih", n_bands)
    cand = (
        q.join(i, ["band_idx", "band_val"])
        .where((F.col(q_id) != F.col(i_id)) & bit_first_match("_qh", "_ih", n_bands))
        .select(q_id, i_id, "_qh", "_ih")
    )
    cand = cand.withColumn("dist", hamming(F.col("_qh"), F.col("_ih")).cast("int"))
    return _topk(cand, q_id, [F.col("dist"), F.col(i_id)], k).select(
        q_id, i_id, "dist", "rank"
    )


def cosine_sim(a, b):
    """JVM-side cosine similarity for array<float/double> columns."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def knn_cosine_exact(queries: DataFrame, items: DataFrame, k: int,
                     q_id: str = "query_id", i_id: str = "item_id",
                     vec: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k, broadcast queries (the correctness
    baseline; linear in |items|, embarrassingly parallel)."""
    from aef_mosaic_spark.partitioning import spread_input

    q = queries.select(F.col(q_id), F.col(vec).alias("_qv"))
    # spread_input (r6): the per-pair cosine runs on the items-scan
    # partitioning — a single-file scan serializes |q| x |items|
    # lambda evaluations onto one core; no-op at real scale
    i = spread_input(items, i_id).select(F.col(i_id), F.col(vec).alias("_iv"))
    pairs = F.broadcast(q).crossJoin(i).where(F.col(q_id) != F.col(i_id))
    pairs = pairs.withColumn(
        "sim", F.round(cosine_sim(F.col("_qv"), F.col("_iv")), 6)
    )
    return _topk(pairs, q_id, [F.col("sim").desc(), F.col(i_id)], k).select(
        q_id, i_id, "sim", "rank"
    )


def make_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH (literal arrays —
    embeddable in both the Spark plan and the oracle SQL)."""
    rng = np.random.RandomState(seed)
    return [[round(float(v), 6) for v in rng.randn(dim)] for _ in range(n_planes)]


def lsh_signature(vec_col, planes: list[list[float]]):
    """Sign-bit signature as a JVM expression: bit j = (v . plane_j) > 0.
    Bits are set with bitwise OR of shiftleft(1L, j) — NOT arithmetic
    addition — so bit 63 (shiftleft wraps to min-long) is safe under
    ANSI overflow checking and signatures up to 64 planes work."""
    sig = F.lit(0).cast("long")
    zero = F.lit(0).cast("long")
    for j, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(vec_col, F.array(*[F.lit(x) for x in p]), lambda a, b: a * b),
            F.lit(0.0), lambda acc, v: acc + v,
        )
        bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), {j})")
        sig = sig.bitwiseOR(F.when(dot > 0, bit).otherwise(zero))
    return sig


def _assign_lists(df: DataFrame, vec: str, centroids, out_col: str,
                  n_probe: int = 1) -> DataFrame:
    """Add nearest-centroid list id(s) via a vectorized numpy matmul
    over each Arrow batch (centroids broadcast in the closure)."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields) + f", {out_col} array<int>"

    def _gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec].to_numpy())
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            sims = Vn @ Cn.T
            # stable sort: sim ties resolve to the LOWER list index,
            # matching the SQL twin's (sim DESC, list ASC) ordering
            top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            pdf = pdf.copy()
            pdf[out_col] = [row.astype(int).tolist() for row in top]
            yield pdf

    return df.mapInPandas(_gen, schema=schema)


def ivf_centroids(items: DataFrame, vec: str, n_lists: int, dim: int,
                  refine_iters: int = 1) -> list[list[float]]:
    """Deterministic IVF codebook: seeds = the n_lists items with the
    smallest md5-derived h32(id) keys (hash-ordered, data-driven but
    reproducible — md5 so the DuckDB oracle computes the SAME seeds),
    then `refine_iters` Lloyd steps computed as DataFrame aggregations
    (assign -> groupBy(list).avg). Refined coordinates are rounded to
    6 decimals: float avg is summation-order-dependent (both across
    Spark partials and across engines), and rounding snaps the ~1e-12
    divergence so assignments are reproducible bit-for-bit."""
    from aef_mosaic_spark.functions.hashes import h32_col

    id_col = items.columns[0]
    seeds = (
        items.select(vec, h32_col(F.col(id_col).cast("string")).alias("_h"),
                     F.col(id_col).alias("_id"))
        .orderBy("_h", "_id").limit(n_lists).collect()
    )
    centroids = [list(map(float, r[0])) for r in seeds]
    for _ in range(refine_iters):
        assigned = _assign_lists(items.select(vec), vec, centroids, "_l", 1)
        agg = (
            assigned.select(F.element_at("_l", 1).alias("_list"), vec)
            .groupBy("_list")
            .agg(*[F.avg(F.col(vec)[i]).alias(f"c{i}") for i in range(dim)])
            .collect()
        )
        new = list(centroids)
        for r in agg:
            new[r["_list"]] = [round(float(r[f"c{i}"]), 6) for i in range(dim)]
        centroids = new
    return centroids


def ann_cosine_ivf(queries: DataFrame, items: DataFrame, k: int, dim: int,
                   q_id: str = "query_id", i_id: str = "item_id",
                   vec: str = "embedding", n_lists: int = 16,
                   n_probe: int = 4,
                   centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF ANN: items bucketed by nearest centroid (inverted lists);
    each query probes its n_probe nearest lists; exact cosine + top-k
    within the probed lists. Per-query work ~ n_probe/n_lists of the
    corpus — the classic coarse-quantizer scale path beside sign-LSH."""
    if centroids is None:
        centroids = ivf_centroids(items.select(i_id, vec), vec, n_lists, dim)
    i = _assign_lists(items.select(F.col(i_id), F.col(vec).alias("_iv")),
                      "_iv", centroids, "_il", 1)
    i = i.select(i_id, "_iv", F.element_at("_il", 1).alias("_list"))
    q = _assign_lists(queries.select(F.col(q_id), F.col(vec).alias("_qv")),
                      "_qv", centroids, "_ql", n_probe)
    q = q.select(q_id, "_qv", F.explode("_ql").alias("_list"))
    cand = (
        F.broadcast(q).join(i, "_list")
        .where(F.col(q_id) != F.col(i_id))
        .withColumn("sim", F.round(cosine_sim(F.col("_qv"), F.col("_iv")), 6))
    )
    return _topk(cand, q_id, [F.col("sim").desc(), F.col(i_id)], k).select(
        q_id, i_id, "sim", "rank"
    )


def ann_cosine_lsh(queries: DataFrame, items: DataFrame, k: int, dim: int,
                   q_id: str = "query_id", i_id: str = "item_id",
                   vec: str = "embedding", n_planes: int = 8,
                   max_sig_hamming: int = 2) -> DataFrame:
    """Approximate NN via multiprobe sign-LSH: items are bucketed by
    signature; each query probes every signature within
    `max_sig_hamming` bit flips of its own (explode of xor masks), and
    candidates come from a signature EQUI-join — no crossJoin anywhere.
    Scale path for 10^12 vectors: per-query work ~ probe_count x
    avg bucket size instead of |items|.

    Each (query, item) pair is emitted at most once with no dedup
    step: the xor masks are distinct, so a query's probe signatures
    are distinct, and an item has one signature. Requires unique
    q_id among queries and unique i_id among items."""
    planes = make_planes(dim, n_planes)
    masks = [0] + [1 << j for j in range(n_planes)]
    if max_sig_hamming >= 2:
        masks += [(1 << a) | (1 << b) for a in range(n_planes) for b in range(a + 1, n_planes)]
    q = queries.select(
        F.col(q_id), F.col(vec).alias("_qv"),
        lsh_signature(F.col(vec), planes).alias("_qsig"),
    ).withColumn(
        "_probe",
        F.explode(F.array(*[F.lit(m).cast("long") for m in masks])),
    ).withColumn("_sig", F.col("_qsig").bitwiseXOR(F.col("_probe")))
    from aef_mosaic_spark.partitioning import spread_input

    # spread_input (r6): n_planes dot products per item on a
    # single-file scan otherwise run on one task; no-op at scale
    i = spread_input(items, i_id).select(
        F.col(i_id), F.col(vec).alias("_iv"),
        lsh_signature(F.col(vec), planes).alias("_sig"),
    )
    cand = q.join(i, "_sig").where(F.col(q_id) != F.col(i_id))
    cand = cand.withColumn("sim", F.round(cosine_sim(F.col("_qv"), F.col("_iv")), 6))
    return _topk(cand, q_id, [F.col("sim").desc(), F.col(i_id)], k).select(
        q_id, i_id, "sim", "rank"
    )


# ---------------------------------------------------------------- PQ
def _l2_to_lit(sub_col, centroid: list[float]):
    """||sub - c||^2 against a LITERAL centroid, left-fold in index
    order (both engines fold list_transform/zip_with the same way),
    quantized to 9dp so a last-ulp divergence can't flip an argmin."""
    sq = F.aggregate(
        F.zip_with(sub_col, F.array(*[F.lit(float(x)) for x in centroid]),
                   lambda x, c: (x - c) * (x - c)),
        F.lit(0.0), lambda a, b: a + b)
    return F.floor(sq * 1e9 + 0.5) / 1e9


def unit_normalized(df: DataFrame, vec: str, out: str) -> DataFrame:
    """Add `out` = unit-normalized copy of `vec` (two-step select: the
    norm materializes as its own column first — no shared-subexpression
    re-eval inside the transform lambda, no alias shadowing)."""
    keep = df.columns
    norm = F.sqrt(F.aggregate(F.col(vec).cast("array<double>"),
                              F.lit(0.0), lambda a, x: a + x * x))
    df = df.select(*keep, norm.alias("_n"))
    unit = F.transform(F.col(vec).cast("array<double>"),
                       lambda x: x / F.greatest("_n", F.lit(1e-12)))
    return df.select(*keep, unit.alias(out))


def pq_codebooks(items: DataFrame, vec: str, dim: int, m: int = 4,
                 ksub: int = 8, iters: int = 1) -> list[list[list[float]]]:
    """Product-quantization codebooks [m][ksub][dim/m] over UNIT
    vectors: seeds = the ksub items with the smallest md5-h32(id)
    (the q17b IVF rule — reproducible AND re-derivable in SQL), then
    `iters` Lloyd steps per subspace with means rounded to 6dp (float
    avg is summation-order-dependent across engines; rounding snaps
    the divergence so training is deterministic at any parallelism).

    iters=1 is the oracle-parity default (every qNN recipe re-derives
    it in SQL). Larger `iters` is the opt-in PRODUCTION refinement —
    still fully deterministic (seeded init, fixed iteration count),
    just not re-derivable in a single SQL pass; recall-vs-iters is
    measured in BENCH/BASELINE.md §10c."""
    from aef_mosaic_spark.functions.hashes import h32_col

    dsub = dim // m
    id_col = items.columns[0]
    seeds = (items.select(vec, h32_col(F.col(id_col).cast("string"))
                          .alias("_h"), F.col(id_col).alias("_id"))
             .orderBy("_h", "_id").limit(ksub).collect())
    books = [[list(map(float, r[0][j * dsub:(j + 1) * dsub]))
              for r in seeds] for j in range(m)]
    for j in range(m):
        sub = items.select(F.slice(F.col(vec), j * dsub + 1, dsub)
                           .alias("sv"))
        for _ in range(max(0, int(iters))):
            dists = F.array(*[_l2_to_lit(F.col("sv"), c)
                              for c in books[j]])
            code = (F.array_position(dists, F.array_min(dists)) - 1) \
                .cast("int")
            agg = (sub.select("sv", code.alias("_c"))
                   .groupBy("_c")
                   .agg(*[F.avg(F.col("sv")[i]).alias(f"d{i}")
                          for i in range(dsub)])
                   .collect())
            for r in agg:
                books[j][r["_c"]] = [round(float(r[f"d{i}"]), 6)
                                     for i in range(dsub)]
    return books


def _pq_recon_df(it_u: DataFrame, id_col: str, uv: str, books,
                 m: int, dsub: int) -> DataFrame:
    """(id, _rv reconstruction) for unit vectors in column `uv`.
    Subspace slices materialize once as their own columns, then the
    ksub distance exprs per sub reference the slice COLUMN (cheap
    re-eval, no O(dim) CSE inside the lambdas)."""
    it = it_u.select(id_col, *[F.slice(uv, j * dsub + 1, dsub)
                               .alias(f"_s{j}") for j in range(m)])
    codes = []
    for j in range(m):
        dists = F.array(*[_l2_to_lit(F.col(f"_s{j}"), c) for c in books[j]])
        codes.append((F.array_position(dists, F.array_min(dists)) - 1)
                     .cast("int").alias(f"_c{j}"))
    it = it.select(id_col, *codes)
    recon = F.concat(*[
        F.element_at(
            F.array(*[F.array(*[F.lit(float(x)) for x in cbc])
                      for cbc in books[j]]),
            F.col(f"_c{j}") + 1)
        for j in range(m)])
    return it.select(id_col, recon.alias("_rv"))


def ann_cosine_pq(queries: DataFrame, items: DataFrame, k: int, dim: int,
                  q_id: str = "query_id", i_id: str = "item_id",
                  vec: str = "embedding", m: int = 4, ksub: int = 8,
                  books: list | None = None) -> DataFrame:
    """PQ ANN (Jégou et al. 2011, public): items compress to m codes
    (log2(ksub) bits each); query-item distance is evaluated against
    the RECONSTRUCTION (concatenated chosen centroids), which equals
    the classic ADC table-lookup sum exactly — sum_j ||q_j - c_j||^2 =
    ||q - concat(c_j)||^2 — just organized for a declarative plan.
    Cosine via unit normalization (L2^2 = 2 - 2cos on unit vectors).
    -> (query_id, item_id, rank), rank by (quantized distance, id).

    Scale shape: the corpus stores m*log2(ksub) bits per vector
    (dim*32 -> 12 bits at the defaults, ~170x smaller); the probe
    evaluates top-k against compressed reconstructions and only the
    winners would fetch raw vectors for an exact re-rank. The eval
    here is the broadcast-probe baseline (like knn_cosine_exact);
    per-partition LUT-ADC is the same math batched."""
    dsub = dim // m
    it = unit_normalized(items.select(F.col(i_id), F.col(vec)), vec, "_uv")
    if books is None:
        books = pq_codebooks(it.select(i_id, "_uv"), "_uv", dim, m, ksub)
    it = _pq_recon_df(it, i_id, "_uv", books, m, dsub)
    qs = unit_normalized(queries.select(F.col(q_id), F.col(vec)),
                         vec, "_qv").select(q_id, "_qv")
    d2 = F.aggregate(F.zip_with("_qv", "_rv",
                                lambda x, y: (x - y) * (x - y)),
                     F.lit(0.0), lambda a, b: a + b)
    pairs = (it.crossJoin(F.broadcast(qs))
             .where(F.col(q_id) != F.col(i_id))
             .select(q_id, i_id,
                     (F.floor(d2 * 1e6 + 0.5) / 1e6).alias("_d")))
    w = Window.partitionBy(q_id).orderBy(F.col("_d").asc(), F.col(i_id).asc())
    return (pairs.select(q_id, i_id, F.row_number().over(w).alias("rank"))
            .where(F.col("rank") <= k))


def ann_cosine_pq_rerank(queries: DataFrame, items: DataFrame, k: int,
                         dim: int, q_id: str = "query_id",
                         i_id: str = "item_id", vec: str = "embedding",
                         m: int = 4, ksub: int = 8,
                         shortlist_mult: int = 4) -> DataFrame:
    """The production PQ pattern: top-(k*shortlist_mult) in the
    compressed domain (ann_cosine_pq — scans only codes), then fetch
    RAW vectors for the shortlist only and exact-cosine re-rank to k.
    Per query the raw-vector I/O is O(k*shortlist_mult), not O(corpus)
    — at 10^12 items that is the entire point of the codes. Recall
    caveat: the shortlist must COVER the compressed-domain tie set
    (items whose reconstructions coincide rank by id); size
    k*shortlist_mult at least to the expected duplicate-cluster size
    or the true NN can be tie-broken out before the re-rank sees it."""
    sl = ann_cosine_pq(queries, items, k * shortlist_mult, dim,
                       q_id=q_id, i_id=i_id, vec=vec, m=m, ksub=ksub)
    iv = items.select(F.col(i_id), F.col(vec).alias("_iv"))
    qv = queries.select(F.col(q_id), F.col(vec).alias("_qv"))
    pairs = (sl.select(q_id, i_id)
             .join(iv, i_id)
             .join(F.broadcast(qv), q_id)
             .select(q_id, i_id,
                     F.round(cosine_sim(F.col("_qv"), F.col("_iv")), 6)
                     .alias("_sim")))
    w = Window.partitionBy(q_id).orderBy(F.col("_sim").desc(),
                                         F.col(i_id).asc())
    return (pairs.select(q_id, i_id, F.row_number().over(w).alias("rank"))
            .where(F.col("rank") <= k))


def encode_ivfpq_items(items: DataFrame, dim: int,
                       i_id: str = "item_id", vec: str = "embedding",
                       n_lists: int = 16, m: int = 4, ksub: int = 8,
                       centroids: list[list[float]] | None = None,
                       books: list | None = None,
                       lloyd_iters: int = 1):
    """Encode items into IVF+PQ codes ONCE: returns
    (codes_df, centroids, books) where codes_df has columns
    (i_id, list, c0..c{m-1}) — the compressed representation every
    probe path consumes. BENCH 7l: item ENCODE dominates raw-vector
    ANN calls at 100k items, so any repeated-probe surface should
    encode once (this helper / build_ivfpq_index) and pass `codes=`
    into ann_cosine_ivfpq(_adc) — the probe then never touches a raw
    item vector. Trains centroids/books when not supplied;
    lloyd_iters > 1 is the opt-in production refinement
    (deterministic — seeded init, fixed iterations; recall table in
    BENCH/BASELINE.md §10c). The default 1 keeps the oracle-parity
    recipe."""
    dsub = dim // m
    if centroids is None:
        centroids = ivf_centroids(items.select(i_id, vec), vec,
                                  n_lists, dim, refine_iters=lloyd_iters)
    it_u = unit_normalized(items.select(F.col(i_id), F.col(vec)),
                           vec, "_uv")
    if books is None:
        books = pq_codebooks(it_u.select(i_id, "_uv"), "_uv", dim, m,
                             ksub, iters=lloyd_iters)
    il = _assign_lists(items.select(F.col(i_id), F.col(vec).alias("_cv")),
                       "_cv", centroids, "_il", 1)
    il = il.select(i_id, F.element_at("_il", 1).alias("list"))
    enc = it_u.select(i_id, *[F.slice("_uv", j * dsub + 1, dsub)
                              .alias(f"_s{j}") for j in range(m)])
    codes = []
    for j in range(m):
        dists = F.array(*[_l2_to_lit(F.col(f"_s{j}"), c) for c in books[j]])
        codes.append((F.array_position(dists, F.array_min(dists)) - 1)
                     .cast("int").alias(f"c{j}"))
    codes_df = enc.select(i_id, *codes).join(il, i_id) \
        .select(i_id, "list", *[f"c{j}" for j in range(m)])
    return codes_df, centroids, books


def _require_trained(codes, centroids, books):
    if codes is not None and (centroids is None or books is None):
        raise ValueError(
            "codes= requires the centroids/books the codes were "
            "encoded with (from encode_ivfpq_items or the persisted "
            "index properties) — re-training here would mis-decode")


def ann_cosine_ivfpq(queries: DataFrame, items: DataFrame, k: int, dim: int,
                     q_id: str = "query_id", i_id: str = "item_id",
                     vec: str = "embedding", n_lists: int = 16,
                     n_probe: int = 4, m: int = 4, ksub: int = 8,
                     centroids: list[list[float]] | None = None,
                     books: list | None = None,
                     codes: DataFrame | None = None) -> DataFrame:
    """The FAISS-style composite index (Jégou et al. 2011): IVF coarse
    quantizer restricts the scan to n_probe inverted lists, PQ codes
    give the in-list distances — the memory/compute shape that serves
    10^12-vector corpora (codes are m*log2(ksub) bits/vector; a probe
    touches ~n_probe/n_lists of the corpus, in the compressed domain).

    Both stages reuse the deterministic md5-h32 recipes (ivf_centroids
    for the coarse codebook on raw vectors — cosine ranking is norm-
    invariant — and pq_codebooks on unit vectors), so the ENTIRE
    composite pipeline has a SQL twin. Distance is the PQ
    reconstruction L2 (== ADC lookup sum), quantized to 6dp;
    ties rank by item id. -> (query_id, item_id, rank).

    Plan shape: items carry (list, codes); candidates come from an
    EQUI-join on list (queries exploded to n_probe rows, broadcast);
    no crossJoin anywhere. The exact re-rank composes on top exactly
    as ann_cosine_pq_rerank does over ann_cosine_pq.

    codes=: pre-encoded items from encode_ivfpq_items (columns id,
    list, c0..c{m-1}; pass the matching centroids/books). Skips the
    whole item-side encode — the repeated-probe path (BENCH 7l: the
    encode term dominates one-shot calls).
    """
    dsub = dim // m
    _require_trained(codes, centroids, books)
    if codes is not None:
        recon = F.concat(*[
            F.element_at(
                F.array(*[F.array(*[F.lit(float(x)) for x in cbc])
                          for cbc in books[j]]),
                F.col(f"c{j}") + 1)
            for j in range(m)])
        it = codes.select(F.col(i_id), F.col("list").alias("_list"),
                          recon.alias("_rv"))
    else:
        if centroids is None:
            centroids = ivf_centroids(items.select(i_id, vec), vec,
                                      n_lists, dim)
        it_u = unit_normalized(items.select(F.col(i_id), F.col(vec)),
                               vec, "_uv")
        if books is None:
            books = pq_codebooks(it_u.select(i_id, "_uv"), "_uv",
                                 dim, m, ksub)
        il = _assign_lists(items.select(F.col(i_id),
                                        F.col(vec).alias("_cv")),
                           "_cv", centroids, "_il", 1)
        il = il.select(i_id, F.element_at("_il", 1).alias("_list"))
        it = _pq_recon_df(it_u, i_id, "_uv", books, m, dsub).join(il, i_id)
    qs = unit_normalized(queries.select(F.col(q_id), F.col(vec)),
                         vec, "_qv").select(q_id, "_qv")
    ql = _assign_lists(queries.select(F.col(q_id), F.col(vec).alias("_cv")),
                       "_cv", centroids, "_ql", n_probe)
    ql = ql.select(q_id, F.explode("_ql").alias("_list"))
    qj = F.broadcast(ql.join(qs, q_id))
    d2 = F.aggregate(F.zip_with("_qv", "_rv",
                                lambda x, y: (x - y) * (x - y)),
                     F.lit(0.0), lambda a, b: a + b)
    cand = (qj.join(it, "_list")
            .where(F.col(q_id) != F.col(i_id))
            .select(q_id, i_id,
                    (F.floor(d2 * 1e6 + 0.5) / 1e6).alias("_d")))
    w = Window.partitionBy(q_id).orderBy(F.col("_d").asc(),
                                         F.col(i_id).asc())
    return (cand.select(q_id, i_id, F.row_number().over(w).alias("rank"))
            .where(F.col("rank") <= k))


def ann_cosine_ivfpq_adc(queries: DataFrame, items: DataFrame, k: int,
                         dim: int, q_id: str = "query_id",
                         i_id: str = "item_id", vec: str = "embedding",
                         n_lists: int = 16, n_probe: int = 4, m: int = 4,
                         ksub: int = 8,
                         centroids: list[list[float]] | None = None,
                         books: list | None = None,
                         codes: DataFrame | None = None) -> DataFrame:
    """IVF+PQ with true ADC lookup tables (Jégou et al. 2011 §IV):
    each query precomputes the m x ksub table of subspace distances
    to every codeword ONCE (32 values at the defaults, on the tiny
    broadcast side); each candidate's distance is then m table
    LOOKUPS summed — not a dim-wide array scan. Per-candidate work
    drops from O(dim) to O(m) (16x at 64-dim/4-sub), which is the
    entire point of PQ at 10^12 scale: the probe's inner loop never
    touches a full vector.

    Distance semantics: sum over subspaces of the 9dp-quantized
    subspace L2 (same quantization the ENCODE path uses), final sum
    quantized to 6dp. This differs from ann_cosine_ivfpq's single
    64-dim fold only in summation structure (4 partials vs one fold)
    — values agree except at sub-ulp floor boundaries; the SQL twin
    mirrors the partial-sum structure exactly (ordered list_reduce).

    codes=: pre-encoded items from encode_ivfpq_items (columns id,
    list, c0..c{m-1}; pass the matching centroids/books). The probe
    then reads codes only — no raw item vector anywhere in the plan.
    """
    dsub = dim // m
    _require_trained(codes, centroids, books)
    if codes is None:
        # item side: coarse list + m int codes (NO reconstruction
        # arrays) — encoded inline for the one-shot call shape
        codes, centroids, books = encode_ivfpq_items(
            items, dim, i_id, vec, n_lists, m, ksub, centroids, books)
    it = codes.select(F.col(i_id), F.col("list").alias("_list"),
                      *[F.col(f"c{j}").alias(f"_c{j}") for j in range(m)])
    # query side: probe lists + the ADC table (m arrays of ksub dists)
    qs = unit_normalized(queries.select(F.col(q_id), F.col(vec)),
                         vec, "_qv")
    qs = qs.select(q_id, *[F.slice("_qv", j * dsub + 1, dsub)
                           .alias(f"_q{j}") for j in range(m)])
    luts = [F.array(*[_l2_to_lit(F.col(f"_q{j}"), c) for c in books[j]])
            .alias(f"_lut{j}") for j in range(m)]
    qs = qs.select(q_id, *luts)
    ql = _assign_lists(queries.select(F.col(q_id), F.col(vec).alias("_cv")),
                       "_cv", centroids, "_ql", n_probe)
    ql = ql.select(q_id, F.explode("_ql").alias("_list"))
    qj = F.broadcast(ql.join(qs, q_id))
    d = sum((F.element_at(F.col(f"_lut{j}"), F.col(f"_c{j}") + 1)
             for j in range(1, m)),
            F.element_at(F.col("_lut0"), F.col("_c0") + 1))
    cand = (qj.join(it, "_list")
            .where(F.col(q_id) != F.col(i_id))
            .select(q_id, i_id,
                    (F.floor(d * 1e6 + 0.5) / 1e6).alias("_d")))
    w = Window.partitionBy(q_id).orderBy(F.col("_d").asc(),
                                         F.col(i_id).asc())
    return (cand.select(q_id, i_id, F.row_number().over(w).alias("rank"))
            .where(F.col("rank") <= k))


def build_ivfpq_index(items: DataFrame, table_path: str, dim: int,
                      i_id: str = "item_id", vec: str = "embedding",
                      n_lists: int = 16, m: int = 4, ksub: int = 8,
                      lloyd_iters: int = 1) -> int:
    """Build the persistent IVF+PQ index: an icelite table of
    (id, list, c0..c{m-1}) — 4 ints + a byte-sized code per row
    instead of dim floats (~170x smaller than raw vectors at the
    defaults) — with the codebooks and coarse centroids stored in the
    snapshot properties. This is the production split BENCH 7l points
    at: the encode cost is paid ONCE at index build; every probe
    afterwards reads codes only and never touches a raw vector.

    The index is partitioned BY COARSE LIST, so a probe of n_probe
    lists is a partition-pruned scan (manifest stats skip the other
    lists' files entirely). Returns the committed snapshot id.
    """
    import json as _json

    from aef_mosaic_spark.sources.icelite import Icelite

    idx, centroids, books = encode_ivfpq_items(
        items, dim, i_id, vec, n_lists, m, ksub,
        lloyd_iters=lloyd_iters)
    t = Icelite(table_path)
    return t.append(
        idx.repartition("list"), partition_by=["list"],
        properties={
            "index": "ivfpq",
            "dim": str(dim), "m": str(m), "ksub": str(ksub),
            "n_lists": str(n_lists),
            "centroids": _json.dumps(centroids),
            "codebooks": _json.dumps(books),
        },
        summary={"operation": "build-ivfpq-index"})


def probe_ivfpq_index(queries: DataFrame, table_path: str, k: int,
                      q_id: str = "query_id", vec: str = "embedding",
                      n_probe: int = 4) -> DataFrame:
    """Probe the persisted index: ADC lookup tables against stored
    codes. The scan is pruned to the probed coarse lists via the
    index table's hive partitioning + manifest stats — per query
    batch the engine reads ~n_probe/n_lists of the code table and no
    raw vectors at all."""
    import json as _json

    from aef_mosaic_spark.sources.icelite import Icelite

    t = Icelite(table_path)
    props = t.properties()
    dim, m = int(props["dim"]), int(props["m"])
    dsub = dim // m
    centroids = _json.loads(props["centroids"])
    books = _json.loads(props["codebooks"])
    spark = queries.sparkSession

    ql = _assign_lists(queries.select(F.col(q_id), F.col(vec).alias("_cv")),
                       "_cv", centroids, "_ql", n_probe)
    # driver-side collect is BOUNDED by n_lists (the distinct-probed
    # coarse lists, ints) — never by query count; a pathological batch
    # that probes every list degenerates to a full-index scan, which
    # is the correct plan for it (no pruning possible)
    probe_lists = sorted({int(li) for r in
                          ql.select(F.explode("_ql").alias("l"))
                          .distinct().collect() for li in [r["l"]]})
    assert len(probe_lists) <= len(centroids)
    # partition-pruned scan of ONLY the probed lists
    idx = t.read(spark, filters={"list": (min(probe_lists),
                                          max(probe_lists))})
    idx = idx.where(F.col("list").isin(probe_lists))

    qs = unit_normalized(queries.select(F.col(q_id), F.col(vec)),
                         vec, "_qv")
    qs = qs.select(q_id, *[F.slice("_qv", j * dsub + 1, dsub)
                           .alias(f"_q{j}") for j in range(m)])
    luts = [F.array(*[_l2_to_lit(F.col(f"_q{j}"), c) for c in books[j]])
            .alias(f"_lut{j}") for j in range(m)]
    qs = qs.select(q_id, *luts)
    qj = F.broadcast(
        ql.select(q_id, F.explode("_ql").alias("list")).join(qs, q_id))
    i_id = idx.columns[0]
    d = sum((F.element_at(F.col(f"_lut{j}"), F.col(f"c{j}") + 1)
             for j in range(1, m)),
            F.element_at(F.col("_lut0"), F.col("c0") + 1))
    cand = (qj.join(idx, "list")
            .where(F.col(q_id) != F.col(i_id))
            .select(q_id, F.col(i_id).alias("item_id"),
                    (F.floor(d * 1e6 + 0.5) / 1e6).alias("_d")))
    w = Window.partitionBy(q_id).orderBy(F.col("_d").asc(),
                                         F.col("item_id").asc())
    return (cand.select(q_id, "item_id",
                        F.row_number().over(w).alias("rank"))
            .where(F.col("rank") <= k))


def make_rotation(dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic orthonormal rotation (OPQ's R, Ge et al. 2013,
    public): QR of a seeded Gaussian matrix, sign-fixed so R is unique,
    entries rounded to 6dp — literal-embeddable in both engines. The
    paper LEARNS R per corpus; a random rotation already captures most
    of the benefit on unbalanced-variance data (it decorrelates the
    subspace energy split) and keeps the whole pipeline deterministic."""
    rng = np.random.RandomState(seed)
    q, r = np.linalg.qr(rng.randn(dim, dim))
    q = q * np.sign(np.diag(r))  # unique orientation
    return [[round(float(x), 6) for x in row] for row in q]


def rotate_vectors(df: DataFrame, vec: str, rotation: list[list[float]],
                   out: str) -> DataFrame:
    """out[i] = round(dot(vec, R[i]), 6) — vectorized numpy per Arrow
    batch (a 64x64 literal matrix as 64 JVM dot-aggregates would bloat
    the plan), accumulated dim-sequentially so the fold order matches
    the SQL twin's list_reduce; 6dp rounding then snaps both engines
    to identical doubles."""
    import pandas as pd

    R = np.asarray(rotation, dtype=np.float64)
    keep = df.columns
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in df.schema.fields) + f", {out} array<double>"

    def _gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            V = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec].to_numpy()])
            # SEQUENTIAL accumulation over input dims (not BLAS/pairwise):
            # the SQL twin folds left-to-right (list_reduce), and IEEE
            # addition order must match or floor-boundary flips appear
            W = np.zeros((len(V), R.shape[0]))
            for j in range(R.shape[1]):
                W += np.outer(V[:, j], R[:, j])
            W = np.floor(W * 1e6 + 0.5) / 1e6
            pdf = pdf.copy()
            pdf[out] = [row.tolist() for row in W]
            yield pdf

    return df.mapInPandas(_gen, schema=schema)


def ann_cosine_opq(queries: DataFrame, items: DataFrame, k: int, dim: int,
                   q_id: str = "query_id", i_id: str = "item_id",
                   vec: str = "embedding", m: int = 4, ksub: int = 8,
                   seed: int = 7) -> DataFrame:
    """OPQ-style PQ: rotate every vector by the deterministic R, then
    run the standard PQ pipeline in the rotated space. Rotation is
    norm-preserving, so rotated-space L2 == original-space L2 and the
    ranking semantics are unchanged — what changes is the QUANTIZER'S
    fit (subspace energy is decorrelated, codewords waste fewer bits
    on correlated dims). Same oracle recipe as q80 with the rotation
    CTE prepended."""
    rot = make_rotation(dim, seed)
    qr = rotate_vectors(queries.select(F.col(q_id), F.col(vec)),
                        vec, rot, "_rv").select(q_id, F.col("_rv").alias(vec))
    ir = rotate_vectors(items.select(F.col(i_id), F.col(vec)),
                        vec, rot, "_rv").select(i_id, F.col("_rv").alias(vec))
    return ann_cosine_pq(qr, ir, k, dim, q_id=q_id, i_id=i_id, vec=vec,
                         m=m, ksub=ksub)


def recall_at_k(approx: DataFrame, exact: DataFrame,
                q_id: str = "query_id", i_id: str = "item_id") -> float:
    """recall@k of an approximate top-k result against the exact one:
    |approx ∩ exact| / |exact| over (query, item) pairs. Both inputs
    are the (q_id, i_id, ...) top-k outputs of the ann_*/knn_* ops;
    a left-semi join + two bounded counts — no per-row Python, and
    the only driver-side values are the two scalars.

    Caveat (BENCH r3 note): within near-duplicate cliques the exact
    ranking is tie-broken by id, so compressed-domain methods can
    return a different member of the same dup cluster; pair-level
    recall is the strict lower bound reported here."""
    hits = (approx.select(q_id, i_id)
            .join(exact.select(q_id, i_id), [q_id, i_id], "leftsemi")
            .count())
    total = exact.count()
    return hits / max(total, 1)
