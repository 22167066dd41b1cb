"""Corpus-assembly operators: duplicated-span stats, SemDeDup,
model-based quality scoring, token-budget mixture, bucketed batches.

Each test checks SEMANTICS against a small hand-computable or pure-
Python oracle (the DuckDB twins are exercised by the driver gate /
scripts/check_correctness.py; here we pin the behavior itself)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aef_mosaic_spark.functions.text import quality_classifier_col
from aef_mosaic_spark.operators.dedup import semdedup
from aef_mosaic_spark.operators.sampling import (bucketed_batches,
                                                 token_budget_mixture)
from aef_mosaic_spark.operators.spans import duplicated_span_stats


def test_duplicated_spans_finds_shared_region(spark):
    shared = " ".join(f"s{i}" for i in range(10))  # 10 shared tokens
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h " + shared),          # 8 unique + shared
            (2, "p q r s t u v w " + shared),          # different prefix
            (3, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10"),     # no overlap
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict()
           for r in duplicated_span_stats(docs, "doc_id", "text", n=4).collect()}
    # doc 1: 18 tokens -> 15 4-grams; shared 4-grams start at pos 8
    assert out[1]["n_grams"] == 15
    assert out[1]["n_dup"] == 7  # grams fully inside the shared suffix
    assert out[1]["first_dup_pos"] == 8
    assert out[3]["n_dup"] == 0 and out[3]["first_dup_pos"] == -1


def test_duplicated_spans_short_docs_absent(spark):
    docs = spark.createDataFrame(
        [(1, "one two three"), (2, "a b c d e f")],
        "doc_id long, text string",
    )
    got = duplicated_span_stats(docs, "doc_id", "text", n=4).collect()
    assert {r["doc_id"] for r in got} == {2}  # doc 1 has < n tokens


def test_semdedup_prunes_to_farthest_from_centroid(spark):
    # one tight cluster of 3 near-identical vectors + 2 far singles;
    # with 2 lists the cluster keeps exactly ONE member
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.999, 0.0, 0.01, 0.0]),
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 0.9, 0.3, 0.0]),  # cos to vec 4 = 0.9487 < tau
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in
           semdedup(df, "vec_id", "embedding", tau=0.99, n_lists=2,
                    dim=4).collect()}
    assert len(out) == 5
    c1 = [i for i in (1, 2, 3) if not out[i]["pruned"]]
    assert len(c1) == 1  # tight cluster pruned to one survivor
    # survivor is the member with the LOWEST centroid similarity
    keep = c1[0]
    for i in (1, 2, 3):
        if i != keep:
            assert out[i]["cent_sim"] >= out[keep]["cent_sim"]
    # the 4/5 pair is below tau=0.99 -> both kept
    assert not out[4]["pruned"] and not out[5]["pruned"]


def test_quality_classifier_monotone_signals(spark):
    natural = "the quick brown fox jumps over the lazy dog and runs far " * 3
    symbols = "@@ ## $$ %% ^^ && ** (( )) !! ?? ;; :: [[ ]] {{ }} || ~~ ``"
    df = spark.createDataFrame(
        [(1, natural), (2, symbols)], "doc_id long, text string")
    got = {r["doc_id"]: r["s"] for r in df.select(
        "doc_id", quality_classifier_col(F.col("text")).alias("s")).collect()}
    assert 0.0 < got[2] < got[1] < 1.0
    assert got[1] >= 0.5 and got[2] < 0.5


def test_token_budget_mixture_greedy_fill(spark):
    # domain A: 3 docs x 4 tokens, budget 6 -> greedy keeps docs while
    # tokens-before < 6: positions 0 (0<6) and 1 (4<6), not 2 (8>=6)
    docs = spark.createDataFrame(
        [(i, "A", "w x y z") for i in range(3)]
        + [(10 + i, "B", "w x y z") for i in range(3)],
        "doc_id long, source string, text string",
    )
    out = token_budget_mixture(docs, "doc_id", "source", "text",
                               {"A": 6, "B": 100})
    per = {r["source"]: r["cnt"] for r in
           out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert per == {"A": 2, "B": 3}
    # overshoot bound: cum_tokens - budget < max doc length
    a_rows = out.where("source = 'A'").collect()
    assert max(r["cum_tokens"] for r in a_rows) == 8  # 6 + overshoot 2 < 6+4


def test_token_budget_mixture_deterministic_selection(spark):
    docs = spark.createDataFrame(
        [(i, "A", " ".join(["t"] * (3 + i % 5))) for i in range(40)],
        "doc_id long, source string, text string",
    )
    kept1 = sorted(r["doc_id"] for r in token_budget_mixture(
        docs, "doc_id", "source", "text", {"A": 50}).collect())
    kept2 = sorted(r["doc_id"] for r in token_budget_mixture(
        docs.repartition(7), "doc_id", "source", "text", {"A": 50}).collect())
    assert kept1 == kept2  # parallelism-independent


@pytest.mark.parametrize("batch_size", [4, 7])
def test_bucketed_batches_pack_and_drop_last(spark, batch_size):
    rows = [(f"i{i:03d}", 64, 64) for i in range(10)] \
        + [(f"j{i:03d}", 64, 128) for i in range(batch_size)]
    df = spark.createDataFrame(rows, "image_id string, w int, h int")
    out = bucketed_batches(df, "image_id", "w", "h", batch_size).collect()
    by_bucket: dict[str, list] = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    # every full batch has exactly batch_size members, slots 0..bs-1
    for rs in by_bucket.values():
        full = [r for r in rs if r["full"]]
        batches: dict[int, list] = {}
        for r in full:
            batches.setdefault(r["batch_idx"], []).append(r["slot"])
        for slots in batches.values():
            assert sorted(slots) == list(range(batch_size))
    # 64x128 bucket: exactly batch_size rows -> all full
    assert all(r["full"] for r in by_bucket["64x128"])
    # 64x64 bucket: 10 rows -> 10 // bs full-batch rows
    n_full = sum(1 for r in by_bucket["64x64"] if r["full"])
    assert n_full == (10 // batch_size) * batch_size


def test_pii_redaction_counts_and_text(spark):
    from aef_mosaic_spark.functions.text import (pii_count_col,
                                                 pii_redact_col)
    rows = [
        (1, "mail bob.smith+x@example.co.uk now"),
        (2, "call 415-555-0132 or ping 10.0.0.1"),
        (3, "clean text"),
        (4, "a@b.io c.d@e.org and 1.2.3.4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in df.select(
        "doc_id",
        pii_count_col(F.col("text"), "email").alias("e"),
        pii_count_col(F.col("text"), "phone").alias("p"),
        pii_count_col(F.col("text"), "ip").alias("i"),
        pii_redact_col(F.col("text")).alias("red"),
    ).collect()}
    assert (got[1]["e"], got[1]["red"]) == (1, "mail <EMAIL> now")
    assert (got[2]["p"], got[2]["i"]) == (1, 1)
    assert got[2]["red"] == "call <PHONE> or ping <IP>"
    assert got[3]["red"] == "clean text"
    assert (got[4]["e"], got[4]["i"]) == (2, 1)


def test_crossmodal_alignment_identity_and_threshold(spark):
    from aef_mosaic_spark.functions.multimodal import (
        ALIGN_DIM, alignment_scores, pseudo_text_embedding_col)
    caps = spark.createDataFrame(
        [(1, "a red square"), (2, "blue noise")], "doc_id long, text string")
    # image embedding == the caption's own pseudo-embedding -> cos = 1
    selfpairs = caps.select(
        "doc_id", "text",
        pseudo_text_embedding_col(F.col("text")).alias("embedding"))
    out = {r["doc_id"]: r for r in alignment_scores(
        selfpairs, "text", "embedding", threshold=0.99).collect()}
    assert out[1]["alignment"] == 1.0 and out[1]["keep"]
    assert out[2]["alignment"] == 1.0 and out[2]["keep"]
    # mismatched pair (shifted embedding) scores below the identity
    cross = caps.where("doc_id = 1").select(
        "doc_id", "text",
        pseudo_text_embedding_col(F.lit("unrelated caption"))
        .alias("embedding"))
    low = alignment_scores(cross, "text", "embedding",
                           threshold=0.99).collect()[0]
    assert low["alignment"] < 0.5 and not low["keep"]
    assert ALIGN_DIM == 64


def test_curation_job_end_to_end(spark, tmp_path):
    """The full curation CLI pipeline as a library call: funnel is
    monotone non-increasing, every stage leaves a count, the committed
    table matches the funnel tail, and the tag pins the snapshot."""
    import json

    from jobs.curation_job import main
    from aef_mosaic_spark.sources.icelite import Icelite

    src = str(tmp_path / "docs.parquet")
    base = ["the quick brown fox jumps over the lazy dog today",
            "@@ ## $$ %% ^^ && ** (( ))"]  # junk fails min-quality
    rows = []
    for i in range(60):
        text = base[0] + f" extra {i}" if i % 3 else base[0]  # dups
        if i % 10 == 9:
            text = base[1]
        rows.append((i, "A" if i % 2 else "B", text))
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
        .write.parquet(src)

    out = str(tmp_path / "curated")
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--input", src, "--output", out,
                   "--min-quality", "0.4", "--redact-pii",
                   "--max-dup-ratio", "1.1",  # keep all (stats still run)
                   "--dedup", "--threshold", "0.8",
                   "--budget", "A=200", "--budget", "B=200",
                   "--tag", "v1"])
    assert rc == 0
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    f = m["funnel"]
    order = ["input", "after_quality", "after_spans", "after_dedup",
             "after_mixture", "output"]
    vals = [f[k] for k in order]
    assert vals == sorted(vals, reverse=True)
    assert f["input"] == 60
    assert f["after_quality"] == 54          # the 6 junk docs dropped
    assert f["after_dedup"] < f["after_spans"]  # dup cluster collapsed
    t = Icelite(out)
    assert t.read(spark).count() == f["output"]
    assert t.tags() == {"v1": m["snapshot_id"]}


def test_bpe_pretoken_count(spark):
    from aef_mosaic_spark.functions.text import bpe_pretoken_count_col
    rows = [(1, "it's we're they'll"),      # 6: 3 words + 3 contractions
            (2, "hello,world"),             # 3: hello , world
            (3, "abc 123 !!")]              # 3: letters digits punct
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n"] for r in df.select(
        "doc_id", bpe_pretoken_count_col(F.col("text")).alias("n")).collect()}
    assert got == {1: 6, 2: 3, 3: 3}


def test_span_removal_keeps_owner_copy(spark):
    from aef_mosaic_spark.operators.spans import remove_duplicated_spans
    shared = " ".join(f"s{i}" for i in range(6))   # 6 shared tokens
    docs = spark.createDataFrame(
        [
            (1, "a b c " + shared),     # owner (min id) keeps the span
            (2, "p q r " + shared),     # span cut
            (3, "x y z w v u"),         # untouched
            (4, "t1 t2 t3"),            # shorter than n: pass-through
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           remove_duplicated_spans(docs, "doc_id", "text", n=4).collect()}
    assert out[1]["clean_text"] == "a b c " + shared    # owner intact
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "p q r"              # span removed
    assert out[2]["n_removed"] == 6
    assert out[3]["n_removed"] == 0
    assert out[4]["clean_text"] == "t1 t2 t3"           # short doc kept
    # corpus-level: exactly ONE copy of the shared passage survives
    survivors = sum(shared in out[i]["clean_text"] for i in (1, 2, 3, 4))
    assert survivors == 1


def test_curation_job_analyze_and_bad_budget(spark, tmp_path):
    import contextlib, io, json

    import pytest

    from jobs.curation_job import main
    src = str(tmp_path / "d.parquet")
    spark.createDataFrame([(1, "A", "a b c")],
                          "doc_id long, source string, text string") \
        .write.parquet(src)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--input", src, "--output", str(tmp_path / "o"),
                   "--min-quality", "0.3", "--max-dup-ratio", "0.5",
                   "--dedup", "--budget", "A=10", "--analyze"])
    assert rc == 0
    rep = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert rep["analyze"] and "iterative" in rep["dedup"]
    assert rep["quality"]["exchanges"] == 0      # pure codegen filter
    assert rep["mixture"]["exchanges"] >= 1      # window shuffle
    # nothing committed in analyze mode
    assert not (tmp_path / "o").exists()
    with pytest.raises(SystemExit):
        main(["--input", src, "--output", str(tmp_path / "o"),
              "--budget", "A=notanumber"])


def test_dedup_job_semdedup_mode(spark, tmp_path):
    import contextlib, io, json

    import numpy as np

    from jobs.dedup_job import main
    from aef_mosaic_spark.sources.icelite import Icelite
    rng = np.random.RandomState(3)
    base = [rng.randn(8).tolist() for _ in range(20)]
    rows = [(i, v) for i, v in enumerate(base)]
    # plant near-identical twins for ids 100+
    rows += [(100 + i, [x * 1.001 for x in v])
             for i, v in enumerate(base[:5])]
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(src)
    out = str(tmp_path / "sd")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--input", src, "--id-col", "vec_id",
                   "--mode", "semdedup", "--tau", "0.999",
                   "--n-lists", "4", "--dim", "8", "--output", out])
    assert rc == 0
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert m["docs"] == 25 and m["removed"] == 5   # one of each twin pair
    t = Icelite(out)
    got = {r["vec_id"]: r["keep"] for r in t.read(spark).collect()}
    assert sum(not k for k in got.values()) == 5


def test_curation_job_stage_resume(spark, tmp_path, monkeypatch):
    """Kill-and-resume via stage checkpoints: a crash mid-pipeline
    leaves the completed stages committed; the rerun recomputes ONLY
    the missing stages and produces the same output as an
    uninterrupted run. Config drift refuses to resume."""
    import contextlib, io, json

    import pytest

    import jobs.curation_job as J
    from aef_mosaic_spark.sources.icelite import Icelite

    src = str(tmp_path / "docs.parquet")
    rows = [(i, "A" if i % 2 else "B",
             "the quick brown fox jumps over the lazy dog number "
             + str(i % 7)) for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
        .write.parquet(src)
    argv = ["--input", src, "--output", str(tmp_path / "o"),
            "--min-quality", "0.3", "--dedup", "--threshold", "0.8",
            "--budget", "A=120", "--budget", "B=120", "--resume"]

    # reference: uninterrupted run (no resume machinery)
    ref_out = str(tmp_path / "ref")
    with contextlib.redirect_stdout(io.StringIO()):
        J.main(["--input", src, "--output", ref_out,
                "--min-quality", "0.3", "--dedup", "--threshold", "0.8",
                "--budget", "A=120", "--budget", "B=120"])
    ref = sorted(r["doc_id"] for r in Icelite(ref_out).read(spark).collect())

    # crash INSIDE the mixture stage
    def _boom(*a, **k):
        raise RuntimeError("simulated executor loss")
    monkeypatch.setattr(J, "token_budget_mixture", _boom, raising=False)
    import aef_mosaic_spark.operators.sampling as SA
    real_mix = SA.token_budget_mixture
    monkeypatch.setattr(SA, "token_budget_mixture", _boom)
    with pytest.raises(RuntimeError):
        with contextlib.redirect_stdout(io.StringIO()):
            J.main(argv)
    work = Icelite(str(tmp_path / "o_stages"))
    stages_after_crash = [h["summary"].get("stage")
                          for h in work.history()
                          if h["summary"].get("stage")]
    assert "after_dedup" in stages_after_crash
    assert "after_mixture" not in stages_after_crash

    # resume: only the mixture stage runs
    monkeypatch.setattr(SA, "token_budget_mixture", real_mix)
    monkeypatch.setattr(J, "token_budget_mixture", real_mix,
                        raising=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = J.main(argv)
    assert rc == 0
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    got = sorted(r["doc_id"]
                 for r in Icelite(str(tmp_path / "o")).read(spark).collect())
    assert got == ref                       # identical final corpus
    assert m["funnel"]["after_mixture"] == len(ref)
    stages_final = [h["summary"].get("stage") for h in work.history()
                    if h["summary"].get("stage")]
    assert stages_final.count("after_dedup") == 1   # NOT recomputed

    # config drift refuses
    with pytest.raises(SystemExit, match="config_hash"):
        with contextlib.redirect_stdout(io.StringIO()):
            J.main(argv[:-1] + ["--threshold", "0.9", "--resume"])


def test_spatially_balanced_sample_caps_cells(spark):
    from aef_mosaic_spark.operators.sampling import spatially_balanced_sample
    # 30 points crammed into one spot + 5 spread out
    rows = [(i, 10.001 + i * 1e-4, 20.001) for i in range(30)] \
        + [(100 + i, -60.0 + i * 30.0, -40.0 + i * 15.0) for i in range(5)]
    df = spark.createDataFrame(rows, "point_id long, lon double, lat double")
    out = spatially_balanced_sample(df, "point_id", "lon", "lat",
                                    res=6, cap=4).collect()
    per_cell: dict = {}
    for r in out:
        per_cell[r["cell"]] = per_cell.get(r["cell"], 0) + 1
    assert max(per_cell.values()) <= 4          # cap enforced
    assert sum(1 for r in out if r["point_id"] >= 100) == 5  # sparse kept
    assert all(1 <= r["rk"] <= 4 for r in out)
    # deterministic under repartition
    out2 = spatially_balanced_sample(df.repartition(7), "point_id",
                                     "lon", "lat", res=6, cap=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_sharded_rank_matches_single_window(spark):
    # The sharded two-phase ranking must be BIT-IDENTICAL to the
    # single-window-per-key formulation on a deliberately skewed
    # input (one domain/bucket/cell holds most rows), while spreading
    # the heavy key over many range partitions.
    from aef_mosaic_spark.operators.sampling import (
        bucketed_batches, spatially_balanced_sample, token_budget_mixture)

    docs = spark.range(3000).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 10 = 0 THEN 'rare' ELSE 'web' END AS source",
        "repeat('tok ', CAST(id % 17 AS INT) + 1) AS text")
    kw = dict(budgets={"web": 4000, "rare": 500}, default_budget=0)
    a = sorted(map(tuple, token_budget_mixture(
        docs, "doc_id", "source", "text", sharded=True, **kw).collect()))
    b = sorted(map(tuple, token_budget_mixture(
        docs, "doc_id", "source", "text", sharded=False, **kw).collect()))
    assert a == b and len(a) > 0

    imgs = spark.range(2000).selectExpr(
        "'img-' || id AS image_id",
        "CASE WHEN id % 20 = 0 THEN 512 ELSE 256 END AS w",
        "256 AS h")
    sharded_df = bucketed_batches(imgs, "image_id", "w", "h", 32,
                                  sharded=True)
    unsharded_df = bucketed_batches(imgs, "image_id", "w", "h", 32,
                                    sharded=False)
    # batch_idx is LONG in both branches: a >2^31*batch_size bucket
    # (the 10^12-image regime) must not wrap the batch index
    assert dict(sharded_df.dtypes)["batch_idx"] == "bigint"
    assert sharded_df.dtypes == unsharded_df.dtypes
    a = sorted(map(tuple, sharded_df.collect()))
    b = sorted(map(tuple, unsharded_df.collect()))
    assert a == b and len(a) == 2000

    pts = spark.range(2500).selectExpr(
        "id AS point_id",
        "CASE WHEN id % 25 = 0 THEN 1.0 + (id % 7) * 0.3 "
        "ELSE 0.001 * (id % 5) END AS lon",
        "CASE WHEN id % 25 = 0 THEN 1.0 + (id % 11) * 0.2 "
        "ELSE 0.001 * (id % 3) END AS lat")
    a = sorted(map(tuple, spatially_balanced_sample(
        pts, "point_id", "lon", "lat", 6, 40, sharded=True).collect()))
    b = sorted(map(tuple, spatially_balanced_sample(
        pts, "point_id", "lon", "lat", 6, 40, sharded=False).collect()))
    assert a == b and len(a) > 0
    # the heavy cell really is shard-spread: the sharded plan windows
    # over (_shard, cell), never over the bare cell key
    plan = spatially_balanced_sample(
        pts, "point_id", "lon", "lat", 6, 40,
        sharded=True)._jdf.queryExecution().executedPlan().toString()
    assert "_shard" in plan


def test_curation_job_spatial_cap_stage(spark, tmp_path):
    """--spatial-cap composes q98 into the funnel: a geo-skewed
    corpus (most docs in one 'city' cell) is flattened to at most cap
    docs per cell, the committed table equals the operator run
    directly, and the stage leaves a funnel row."""
    import contextlib
    import io
    import json

    from jobs.curation_job import main
    from aef_mosaic_spark.operators.sampling import (
        spatially_balanced_sample)
    from aef_mosaic_spark.sources.icelite import Icelite

    src = str(tmp_path / "docs.parquet")
    docs = spark.range(120).selectExpr(
        "id AS doc_id", "'A' AS source",
        "'the quick brown fox jumps over the lazy dog nr ' || id AS text",
        # 100 docs pile into one city cell; 20 spread out (CAST: bare
        # SQL float literals are DecimalType and poison downstream)
        "CAST(CASE WHEN id < 100 THEN 0.001 "
        "ELSE 10.0 + id * 0.5 END AS DOUBLE) AS lon",
        "CAST(CASE WHEN id < 100 THEN 0.001 "
        "ELSE 5.0 + id * 0.3 END AS DOUBLE) AS lat")
    docs.write.parquet(src)

    out = str(tmp_path / "curated")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--input", src, "--output", out,
                   "--spatial-cap", "7", "--spatial-res", "6"])
    assert rc == 0
    m = json.loads(buf.getvalue().strip().splitlines()[-1])
    f = m["funnel"]
    assert f["input"] == 120
    expect = spatially_balanced_sample(
        spark.read.parquet(src), "doc_id", "lon", "lat", res=6, cap=7)
    expect_ids = sorted(r["doc_id"] for r in expect.collect())
    assert f["after_spatial_cap"] == len(expect_ids)
    got = sorted(r["doc_id"] for r in
                 Icelite(out).read(spark).collect())
    assert got == expect_ids          # committed table == operator
    assert f["after_spatial_cap"] < 120   # the city cell was capped


def test_curation_job_gopher_and_dsir_stages(spark, tmp_path):
    """--gopher and --dsir-target compose the r5 operators into the
    funnel: the committed table equals the library-level recompute
    and both stages leave funnel rows."""
    import contextlib
    import io
    import json

    from jobs.curation_job import main
    from aef_mosaic_spark.functions.text import gopher_rules_cols
    from aef_mosaic_spark.operators.importance import dsir_weights
    from aef_mosaic_spark.sources.icelite import Icelite

    wiki = ("the quick brown fox jumps over the lazy dog and then it "
            "runs back to the den of its family to be safe and warm "
            "with all of the other foxes that have lived in this "
            "forest for many years and know all of the paths that "
            "wind between the old trees down to the river near doc ")
    spam = "buy now cheap deals click here "
    src = str(tmp_path / "docs.parquet")
    docs = spark.range(60).selectExpr(
        "id AS doc_id", "'A' AS source",
        "CASE WHEN id % 3 = 0 THEN 'en' ELSE 'xx' END AS lang",
        f"CASE WHEN id % 4 = 3 THEN repeat('{spam}', 10) || id "
        f"ELSE '{wiki}' || id END AS text")
    docs.write.parquet(src)

    out = str(tmp_path / "curated")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(["--input", src, "--output", out, "--gopher",
                   "--dsir-target", "en", "--dsir-col", "lang",
                   "--min-dsir-weight", "0.0"])
    assert rc == 0
    f = json.loads(buf.getvalue().strip().splitlines()[-1])["funnel"]
    assert f["input"] == 60

    d = spark.read.parquet(src)
    gk = d.where(gopher_rules_cols(F.col("text"))["keep"])
    assert f["after_gopher"] == gk.count() < 60
    w = dsir_weights(gk, "doc_id", "text", "lang", "en")
    expect = sorted(
        r["doc_id"] for r in
        gk.join(w.where(F.col("weight") >= 0.0).select("doc_id"),
                "doc_id", "left_semi").collect())
    assert f["after_dsir"] == len(expect)
    got = sorted(r["doc_id"] for r in Icelite(out).read(spark).collect())
    assert got == expect

    # --dsir-sample-k: Gumbel importance resample instead of threshold
    from aef_mosaic_spark.operators.importance import importance_resample
    out2 = str(tmp_path / "curated_rs")
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        rc = main(["--input", src, "--output", out2,
                   "--dsir-target", "en", "--dsir-sample-k", "10"])
    assert rc == 0
    f2 = json.loads(buf2.getvalue().strip().splitlines()[-1])["funnel"]
    assert f2["after_dsir"] == 10
    w_all = dsir_weights(d, "doc_id", "text", "lang", "en")
    exp2 = sorted(r["doc_id"] for r in importance_resample(
        w_all, "doc_id", "weight", k=10).collect())
    got2 = sorted(r["doc_id"]
                  for r in Icelite(out2).read(spark).collect())
    assert got2 == exp2

    # misuse guards: --dsir-target alone, and both modes at once
    import pytest
    with pytest.raises(SystemExit):
        main(["--input", src, "--output", out, "--dsir-target", "en"])
    with pytest.raises(SystemExit):
        main(["--input", src, "--output", out, "--dsir-target", "en",
              "--min-dsir-weight", "0.0", "--dsir-sample-k", "5"])


def test_curation_job_decontaminate(spark, tmp_path):
    """--decontaminate: exact drops the benchmark slice + overlapping
    docs; bloom keeps a SUBSET of exact's kept set (superset of
    flags, zero false negatives); --bench-fp routes an external
    fingerprint table in."""
    import contextlib
    import io
    import json

    from jobs.curation_job import main
    from aef_mosaic_spark.functions.text import (winnow_grams_col,
                                                 winnow_mins_col)
    from aef_mosaic_spark.sources.icelite import Icelite

    bench_text = "benchmark passage alpha beta gamma delta epsilon"
    rows = []
    for i in range(40):
        if i % 17 == 3:                       # benchmark stand-in slice
            text = bench_text + f" zz{i:03d}"
        elif i == 5:                          # contaminated: shares >11
            text = "prefix words benchmark passage alpha beta tail"
        else:                                 # index-salted: no overlap
            text = f"aa{i:03d} bb{i:03d} cc{i:03d} dd{i:03d} ee{i:03d}"
        rows.append((i, "A", text))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
        .write.parquet(src)

    def run(argv):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert main(argv) == 0
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    kept = {}
    for mode in ("exact", "bloom"):
        out = str(tmp_path / f"cur_{mode}")
        m = run(["--input", src, "--output", out,
                 "--decontaminate", mode])
        assert "after_decontaminate" in m["funnel"]
        kept[mode] = {r.doc_id
                      for r in Icelite(out).read(spark).collect()}
    bench_ids = {i for i in range(40) if i % 17 == 3}
    assert kept["exact"] == set(range(40)) - bench_ids - {5}
    assert kept["bloom"] <= kept["exact"]

    # external benchmark table: only doc 3's fingerprints
    import pyspark.sql.functions as F
    fp_path = str(tmp_path / "bench_fp.parquet")
    d = spark.createDataFrame([(3, bench_text + " zz003")],
                              "doc_id long, text string")
    (d.select(winnow_grams_col(F.col("text")).alias("_g"))
     .select(F.explode(winnow_mins_col(F.col("_g"))).alias("fp"))
     .distinct().write.parquet(fp_path))
    out = str(tmp_path / "cur_ext")
    run(["--input", src, "--output", out,
         "--decontaminate", "exact", "--bench-fp", fp_path])
    kept_ext = {r.doc_id for r in Icelite(out).read(spark).collect()}
    # docs sharing fps with doc 3: the other bench docs + doc 5
    assert kept_ext == set(range(40)) - bench_ids - {5}
