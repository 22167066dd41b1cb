"""Registry-wide physical-plan scan audit: how many parquet scans
does each gate query's executed plan contain?

Multi-consumer DataFrames are the hazard: an aggregate that feeds N
downstream branches is re-executed N times unless something cuts the
plan (Catalyst has no cross-branch CSE below self-join reuse, and
ReusedExchange rarely fires across differing consumers — measured 0
across this whole registry). A corpus-sized scan recomputed 4x is a
4x cost at 100 TB. The fix pattern (drift.py / tiles.py, session 4):
localCheckpoint the SMALL (vocab/tile-sized) intermediate, never the
corpus.

By-design multi-scan cases (do NOT "fix"):
 - TPC-H shapes (q51/q53): the SQL semantics scan several tables and
   re-scan inside correlated subqueries — mirroring the reference
   query is the point.
 - Self-join candidate generation (minhash/ngram/embedding near-dup
   q23/q24/q27, span q96): a self-join reads its input twice by
   definition; the build/probe split variants (pairs=, codes=,
   persisted indexes) are the repeated-use answer, not a checkpoint.
 - Pinned-fixture raster queries: scans count the tiny generator
   table, not a corpus.

Two-pass statistics (TF-IDF q102 / BM25 q107: model table + score
side from the same explode) are inherent — 2-3 scans of a pushed
column projection, not a defect.

Counting caveat: queries that localCheckpoint eagerly (q113/q114/
q122/q125, graph/CC) materialize their upstream scans at plan-BUILD
time, so the audited executed plan shows fewer/zero parquet scans —
read a 0 as "cut applied", and account the build-time scans from the
operator docstring, not this tool.

Usage: python scripts/scan_audit.py [threshold]   (default 3)
Prints one line per query at/above threshold, with its count of Python
UDF stages (pandas and Arrow map / grouped-map nodes); exit 0 always
(it is a review tool, not a gate).
"""
from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

THRESHOLD = int(sys.argv[1]) if len(sys.argv) > 1 else 3
PYTHON_NODE = re.compile(r"\b(?:MapIn|FlatMapGroupsIn|FlatMapCoGroupsIn)(?:Pandas|Arrow)\b")


def main():
    import __spark_entry__ as entry
    from aef_mosaic_spark.session import get_spark

    spark = get_spark(app_name="scan-audit", master="local[8]",
                      extra_conf={"spark.sql.shuffle.partitions": "8"})
    rows = []
    for name, fn in entry.queries().items():
        try:
            plan = fn(spark, "/root/testdata/sf0.001") \
                ._jdf.queryExecution().executedPlan().toString()
            rows.append((name, plan.count("Scan parquet"),
                         plan.count("ReusedExchange"),
                         len(PYTHON_NODE.findall(plan))))
        except Exception as ex:                       # noqa: BLE001
            rows.append((name, -1, -1, str(ex)[:60]))
    rows.sort(key=lambda t: -(t[1] if isinstance(t[1], int) else 0))
    for name, s, r, p in rows:
        if isinstance(s, int) and s >= THRESHOLD or s == -1:
            print(f"{name}: scans={s} reused_exchange={r} python={p}")


if __name__ == "__main__":
    main()
