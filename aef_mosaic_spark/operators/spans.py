"""Duplicated-substring (n-gram span) detection across a corpus.

The substring-level complement of document-level dedup (Lee et al.
2022, "Deduplicating Training Data Makes Language Models Better",
public): a training corpus is full of REGIONS copied between
otherwise-distinct documents (boilerplate, licenses, quoted passages).
Document-level MinHash misses them; span-level detection finds every
word n-gram that occurs in >= 2 distinct documents and reports, per
document, how much of it is duplicated text and where the first
duplicated region starts.

Reference parity: the reference has no text pipeline — this is part of
the training-data operator family the driver requires beyond the
reference's raster scope.

Scale shape (10^12 docs): tokenize -> gram -> h32 is per-row compute
inside one codegen stage; corpus duplicate-frequency is ONE groupBy on
the gram hash (map-side combine collapses within-partition repeats);
the membership join back is a hash equi-join on the same key, so AQE
can pick broadcast when the duplicated-gram set is small (it usually
is: boilerplate is heavy-tailed). No crossJoin, no window over the
whole corpus, no Python UDFs.

The gram hash is the md5-derived h32 (functions/hashes.py) so the
DuckDB oracle computes byte-identical buckets. 32-bit collisions add
~n^2/2^33 false dup marks — identically in both engines (parity-safe);
a production run would widen to the h64 pair exactly as dedup.py's
_with_h64 does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aef_mosaic_spark.functions.hashes import h32_col, h32_sql


def _gram_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, pos, gram-hash) for every word n-gram. The token array is
    materialized as its OWN column before the transform lambda (the
    no-CSE-in-lambda rule: Spark re-evaluates a shared subexpression
    per lambda call, turning O(len) docs into O(len^2))."""
    toks = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_ts"),
    )
    # the short-doc guard lives INSIDE the expression (CASE), not in a
    # separate .where(): the optimizer may collapse the project through
    # the filter and evaluate transform() on rows the filter would
    # drop, and sequence(0, -1) yields [0, -1] -> slice(start=0) errors
    grams = toks.select(
        F.col(id_col),
        F.expr(
            f"CASE WHEN size(_ts) >= {n} THEN "
            f"transform(sequence(0, size(_ts) - {n}),"
            f" i -> array_join(slice(_ts, i + 1, {n}), ' '))"
            f" ELSE array() END"
        ).alias("_grams"),
    )
    return grams.select(
        F.col(id_col), F.posexplode("_grams").alias("pos", "_gram")
    ).select(id_col, "pos", h32_col(F.col("_gram")).alias("h"))


def duplicated_span_stats(df: DataFrame, id_col: str, text_col: str,
                          n: int = 8, min_docs: int = 2) -> DataFrame:
    """Per-document duplicated-region stats.

    -> (id, n_grams, n_dup, dup_ratio, first_dup_pos) where a gram is
    `dup` iff its hash occurs in >= min_docs DISTINCT documents.
    first_dup_pos = -1 when the document has no duplicated gram.
    Documents shorter than n tokens produce no grams and are absent
    from the output (same in the SQL twin).
    """
    g = _gram_rows(df, id_col, text_col, n)
    dup_hashes = (
        g.groupBy("h")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("h")
    )
    marked = g.join(dup_hashes.withColumn("_dup", F.lit(1)), "h", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_dup"),
            F.coalesce(
                F.min(F.when(F.col("_dup").isNotNull(), F.col("pos"))),
                F.lit(-1),
            ).cast("int").alias("first_dup_pos"),
        )
        .withColumn(
            "dup_ratio",
            F.round(F.col("n_dup") / F.greatest(F.col("n_grams"), F.lit(1)), 6),
        )
        .select(id_col, "n_grams", "n_dup", "dup_ratio", "first_dup_pos")
    )


def duplicated_span_stats_sql(table: str, id_col: str, text_col: str,
                              n: int = 8, min_docs: int = 2) -> str:
    """DuckDB twin: identical tokenization, 0-based gram positions
    (generate_series is 1-based -> i-1), identical h32 buckets."""
    h = h32_sql(f"array_to_string(ts[i : i + {n - 1}], ' ')")
    return f"""
    WITH d AS (
      SELECT {id_col}, string_split_regex(lower(trim({text_col})), '\\s+') AS ts
      FROM {table}
    ),
    gi AS (
      SELECT {id_col}, ts,
             unnest(generate_series(1, greatest(len(ts) - {n - 1}, 0))) AS i
      FROM d
    ),
    g AS (
      SELECT {id_col}, i - 1 AS pos, {h} AS h FROM gi
    ),
    dup AS (
      SELECT h FROM g GROUP BY h HAVING count(DISTINCT {id_col}) >= {min_docs}
    ),
    m AS (
      SELECT g.{id_col}, g.pos, (dup.h IS NOT NULL) AS is_dup
      FROM g LEFT JOIN dup USING (h)
    )
    SELECT {id_col},
           count(*)::BIGINT AS n_grams,
           sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::BIGINT AS n_dup,
           round(sum(CASE WHEN is_dup THEN 1 ELSE 0 END)::DOUBLE
                 / greatest(count(*), 1), 6) AS dup_ratio,
           coalesce(min(CASE WHEN is_dup THEN pos END), -1)::INT AS first_dup_pos
    FROM m GROUP BY {id_col}
    """


def remove_duplicated_spans(df: DataFrame, id_col: str, text_col: str,
                            n: int = 8, min_docs: int = 2) -> DataFrame:
    """Substring-level REMEDIATION (the second half of Lee et al.
    2022): duplicated regions are CUT from every document except the
    owner (the minimum doc id among the gram's occurrences), leaving
    exactly one copy of each duplicated passage in the corpus.

    A token is removed iff at least one duplicated n-gram covering it
    occurs in this doc while the gram's owner is another doc. Tokens
    of the owner doc — and all non-duplicated text — survive, so the
    common case (boilerplate shared by thousands of docs) keeps one
    canonical copy.

    -> (id, clean_text, n_tokens, n_removed). Documents shorter than
    n tokens pass through unchanged.

    Scale shape: gram hashing + one groupBy(h) for owner = the q83
    plan; coverage is an explode of at most n positions per dup gram
    followed by a distinct on (doc, pos) and a groupBy(doc) rebuild —
    everything keyed, combiner-friendly, no crossJoin, no Python.

    Note the gram subtree `g` feeds two branches (owner aggregation
    and coverage join), so the tokenize+hash SCAN runs twice — a
    deliberate trade: the recompute is shuffle-free codegen, while
    materializing the gram table would write a corpus-sized
    intermediate. At 100 TB, persist/checkpoint `g` iff scan CPU is
    the bottleneck rather than I/O.
    """
    toks = df.select(
        F.col(id_col),
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("_ts"),
    )
    g = _gram_rows(df, id_col, text_col, n)
    owners = (
        g.groupBy("h")
        .agg(F.countDistinct(id_col).alias("_nd"),
             F.min(id_col).alias("_owner"))
        .where(F.col("_nd") >= min_docs)
        .select("h", "_owner")
    )
    covered = (
        g.join(owners, "h")
        .where(F.col(id_col) != F.col("_owner"))
        .select(
            F.col(id_col),
            F.explode(F.expr(f"sequence(pos, pos + {n - 1})")).alias("tp"),
        )
        .distinct()
    )
    kept = (
        toks.select(id_col, F.posexplode("_ts").alias("tp", "_tok"))
        .join(covered, [id_col, "tp"], "left_anti")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("tp", "_tok")))
             .alias("_kept"))
        .select(
            id_col,
            F.expr("array_join(transform(_kept, x -> x._tok), ' ')")
            .alias("clean_text"),
            F.size("_kept").cast("long").alias("n_kept"),
        )
    )
    counts = toks.select(id_col, F.size("_ts").cast("long").alias("n_tokens"))
    return (
        counts.join(kept, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long").alias("n_removed"),
        )
    )


def remove_duplicated_spans_sql(table: str, id_col: str, text_col: str,
                                n: int = 8, min_docs: int = 2) -> str:
    """DuckDB twin: identical owner rule, coverage explode, and
    position-ordered rebuild."""
    h = h32_sql(f"array_to_string(ts[i : i + {n - 1}], ' ')")
    return f"""
    WITH d AS (
      SELECT {id_col}, string_split_regex(lower(trim({text_col})), '\\s+') AS ts
      FROM {table}
    ),
    gi AS (
      SELECT {id_col}, ts,
             unnest(generate_series(1, greatest(len(ts) - {n - 1}, 0))) AS i
      FROM d
    ),
    g AS (SELECT {id_col}, i - 1 AS pos, {h} AS h FROM gi),
    owners AS (
      SELECT h, min({id_col}) AS owner FROM g
      GROUP BY h HAVING count(DISTINCT {id_col}) >= {min_docs}
    ),
    cov0 AS (
      SELECT g.{id_col}, g.pos FROM g JOIN owners USING (h)
      WHERE g.{id_col} <> owners.owner
    ),
    covered AS (
      SELECT DISTINCT {id_col}, pos + j AS tp
      FROM cov0, (SELECT unnest(generate_series(0, {n - 1})) AS j) js
    ),
    tokens AS (
      SELECT d.{id_col}, t.j - 1 AS tp, ts[t.j] AS tok
      FROM d, LATERAL (SELECT unnest(generate_series(1, len(ts))) AS j) t
    ),
    kept AS (
      SELECT t.{id_col},
             array_to_string(array_agg(t.tok ORDER BY t.tp), ' ') AS clean_text,
             count(*)::BIGINT AS n_kept
      FROM tokens t LEFT JOIN covered c
        ON c.{id_col} = t.{id_col} AND c.tp = t.tp
      WHERE c.tp IS NULL
      GROUP BY t.{id_col}
    )
    SELECT d.{id_col},
           coalesce(k.clean_text, '') AS clean_text,
           len(d.ts)::BIGINT AS n_tokens,
           (len(d.ts) - coalesce(k.n_kept, 0))::BIGINT AS n_removed
    FROM d LEFT JOIN kept k USING ({id_col})
    """
