"""Custom stateful streaming operators via applyInPandasWithState.

The reference keeps only bounded in-flight state (channels +
checkpoint set); these are the unbounded-keyed-state extensions a
streaming training-data pipeline needs: first-seen dedup and running
per-key aggregates that survive across microbatches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def streaming_dedup_first_seen(df: DataFrame, key_col: str,
                               id_col: str) -> DataFrame:
    """Emit each id at most once across the whole stream (keyed state =
    set of seen ids per key). Batch analog: dropDuplicates([id])."""
    out_schema = f"{key_col} long, {id_col} long"
    state_schema = "seen array<long>"

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        seen = set(state.get[0]) if state.exists else set()
        fresh = []
        for pdf in pdfs:
            for v in pdf[id_col]:
                v = int(v)
                if v not in seen:
                    seen.add(v)
                    fresh.append({key_col: int(key[0]), id_col: v})
        state.update((sorted(seen),))
        yield pd.DataFrame(fresh, columns=[key_col, id_col])

    return df.groupBy(key_col).applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)


def streaming_running_stats(df: DataFrame, key_col: str,
                            value_col: str) -> DataFrame:
    """Running count/sum/max per key across microbatches."""
    out_schema = f"{key_col} long, n long, total double, mx double"
    state_schema = "n long, total double, mx double"

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, total, mx = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            vals = pdf[value_col]
            n += len(vals)
            total += float(vals.sum())
            if len(vals):
                mx = max(mx, float(vals.max()))
        state.update((n, total, mx))
        yield pd.DataFrame([{key_col: int(key[0]), "n": n,
                             "total": round(total, 6), "mx": mx}])

    return df.groupBy(key_col).applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)


def streaming_mosaic_mean(patches: DataFrame, grid) -> DataFrame:
    """Continuous mosaic compositor: keyed state per output chunk holds
    the running (sum, count) accumulator across microbatches; every
    update emits the CURRENT finalized chunk (update mode), so the sink
    always has the freshest composite and a late tile only re-emits the
    chunks it touches. The accumulator is the same int state as the
    batch compositor (mosaic.py), so the converged result is bit-exact
    with the one-shot mosaic (test-verified).

    State size: zlib'd int32 sum + int32 count per active chunk
    (~1 MB raw, compresses with sparsity); the keyed state store
    shards it across executors — the streaming analog of the
    reference's bounded in-flight chunk set. Each update restores the
    state into the batch compositor's _Canvas, so a chunk holds at
    most MEAN_PATCH_CAP patches over the whole stream, as in batch."""
    import zlib

    import numpy as np

    from aef_mosaic_spark.operators.mosaic import _Canvas

    nb, chh, chw = grid.num_bands, grid.chunk_h, grid.chunk_w
    out_schema = ("time_idx int, row_idx int, col_idx int, chunk binary, "
                  "n_patches long, valid_px long")
    state_schema = "acc binary, cnt binary, n long"

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        cv = _Canvas("mean", nb, chh, chw)
        if state.exists:
            acc_z, cnt_z, cv.n = state.get
            cv.merge(np.frombuffer(zlib.decompress(acc_z), np.int32).reshape(nb, chh, chw),
                     np.frombuffer(zlib.decompress(cnt_z), np.int32).reshape(chh, chw),
                     0, 0)
        for pdf in pdfs:
            cv.add_rows(pdf)
        state.update((zlib.compress(cv.a.tobytes(), 1),
                      zlib.compress(cv.b.tobytes(), 1), cv.n))
        canvas, valid = cv.finish()
        yield pd.DataFrame([{
            "time_idx": int(key[0]), "row_idx": int(key[1]),
            "col_idx": int(key[2]), "chunk": canvas.tobytes(),
            "n_patches": cv.n, "valid_px": valid,
        }])

    return patches.groupBy("time_idx", "row_idx", "col_idx") \
        .applyInPandasWithState(
            fn, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)


def streaming_token_budget_admission(df: DataFrame, id_col: str,
                                     domain_col: str, text_col: str,
                                     budgets: dict[str, int],
                                     default_budget: int = 0) -> DataFrame:
    """Streaming corpus admission: documents arriving on a stream are
    admitted into the training corpus until their domain's token
    budget fills — the applyInPandasWithState twin of
    sampling.token_budget_mixture. State per domain = tokens admitted
    so far; admission is greedy in (batch, id) order (a stream has no
    h32 global order — the batch operator is the reproducible-corpus
    path, this is the live-ingest path) with the same overshoot-
    at-most-one-doc rule. Admitted rows are final (append output mode,
    never retracted) — the exactly-once property downstream consumers
    need.
    """
    out_schema = (f"{id_col} long, {domain_col} string, "
                  f"n_tok long, cum_tokens long")
    state_schema = "admitted long"

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        dom = key[0]
        budget = int(budgets.get(dom, default_budget))
        admitted = int(state.get[0]) if state.exists else 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(id_col, kind="stable")
        toks = batch[text_col].str.split().str.len().astype("int64")
        cum_before = admitted + toks.cumsum() - toks
        mask = cum_before < budget
        kept = batch.loc[mask]
        ktoks = toks.loc[mask]
        out = pd.DataFrame({
            id_col: kept[id_col].astype("int64"),
            domain_col: dom,
            "n_tok": ktoks,
            "cum_tokens": (cum_before.loc[mask] + ktoks).astype("int64"),
        })
        admitted = int(out["cum_tokens"].iloc[-1]) if len(out) else admitted
        state.update((admitted,))
        yield out

    return df.groupBy(domain_col).applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)


def streaming_anomalies(df: DataFrame, win: int = 20, min_n: int = 10,
                        k: int = 3) -> DataFrame:
    """Streaming twin of operators/anomaly.rolling_anomalies: per-user
    keyed state holds the trailing <=win (es, vcents) ring buffer
    across microbatches; each arriving event is scored against the
    buffer BEFORE being appended, with the IDENTICAL all-integer law
    ((n*x - s)^2 > k^2 * (n*ss - s^2), n >= min_n).

    Equivalence contract (reconciliation-tested): when events arrive
    in (es, event_id) order per user — the replay/ingest case — the
    flagged set is exactly the batch operator's. Out-of-order
    arrivals score against the state as-of arrival (the streaming
    semantics; same divergence-by-design note as the
    admission-vs-mixture pair).

    Input must already carry integer `es` and `vcents` columns (the
    batch operator's quantization), so stream and batch share one
    quantization law."""
    out_schema = "user_id long, event_id long, es long, vcents long, win_n long"
    state_schema = "ess array<long>, vcs array<long>"

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        ess, vcs = ([list(a) for a in state.get]
                    if state.exists else ([], []))
        flagged = []
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["es", "event_id"])
        for t in rows.itertuples(index=False):
            n = len(vcs)
            if n >= min_n:
                s = sum(vcs)
                ss = sum(v * v for v in vcs)
                x = int(t.vcents)
                if (n * x - s) ** 2 > k * k * (n * ss - s * s):
                    flagged.append({
                        "user_id": int(key[0]),
                        "event_id": int(t.event_id),
                        "es": int(t.es), "vcents": x, "win_n": n})
            ess.append(int(t.es))
            vcs.append(int(t.vcents))
            if len(vcs) > win:
                ess.pop(0)
                vcs.pop(0)
        state.update((ess, vcs))
        yield pd.DataFrame(flagged, columns=[
            "user_id", "event_id", "es", "vcents", "win_n"])

    return df.groupBy("user_id").applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)


def streaming_stay_points(df: DataFrame, cell: int = 400,
                          min_sec: int = 3600) -> DataFrame:
    """Streaming twin of operators/sessions.stay_points: per-user
    keyed state holds the OPEN cell run (cell, start_es, end_es,
    n_fixes); a fix in a new cell CLOSES the run, emitting it when
    dwell >= min_sec — identical cell/dwell law to the batch
    operator.

    Equivalence contract (reconciliation-tested): under in-order
    arrival, the emitted set is exactly the batch operator's stays
    MINUS each user's final (still-open) run — the inherent append-
    mode difference: a stream can never know the last run has ended.
    Input carries integer es/xm/ym (the batch quantization)."""
    out_schema = ("user_id long, cell_x long, cell_y long, "
                  "n_fixes long, start_es long, end_es long, "
                  "dwell_sec long")
    state_schema = "cx long, cy long, start_es long, end_es long, n long"

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        cur = list(state.get) if state.exists else None
        closed = []

        def close():
            if cur and cur[3] - cur[2] >= min_sec:
                closed.append({
                    "user_id": int(key[0]), "cell_x": cur[0],
                    "cell_y": cur[1], "n_fixes": cur[4],
                    "start_es": cur[2], "end_es": cur[3],
                    "dwell_sec": cur[3] - cur[2]})

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["es", "event_id"])
        for t in rows.itertuples(index=False):
            cx, cy = int(t.xm) // cell, int(t.ym) // cell
            es = int(t.es)
            if cur is None or (cx, cy) != (cur[0], cur[1]):
                close()
                cur = [cx, cy, es, es, 1]
            else:
                cur[3] = es
                cur[4] += 1
        state.update(tuple(cur))
        yield pd.DataFrame(closed, columns=[
            "user_id", "cell_x", "cell_y", "n_fixes",
            "start_es", "end_es", "dwell_sec"])

    return df.groupBy("user_id").applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append", timeoutConf=GroupStateTimeout.NoTimeout)


def streaming_hll_registers(df: DataFrame, key_col: str, value_col: str,
                            p: int = 8) -> DataFrame:
    """Streaming HLL distinct-count twin (functions/sketches.py law):
    keyed state = the full 2^p register vector; each microbatch folds
    arriving values in with register max and emits (key, n_seen,
    regs).  Because register max is associative, commutative and
    idempotent, the final streaming state equals the BATCH
    hll_registers over the union of all arrivals REGISTER FOR
    REGISTER, independent of batching and arrival order — the
    strongest stream==batch reconciliation law in the repo (the
    mosaic/cluster twins only match under their documented order
    policies).  Python h32 (md5 hex prefix) matches h32_col exactly;
    value_col must already be string (stringify upstream the same way
    the batch side does)."""
    import hashlib

    m = 1 << p
    nbits = 32 - p
    mask = (1 << nbits) - 1
    out_schema = f"{key_col} string, n_seen long, regs array<int>"
    state_schema = "n_seen long, regs array<int>"

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            n_seen, regs = state.get[0], list(state.get[1])
        else:
            n_seen, regs = 0, [0] * m
        for pdf in pdfs:
            for v in pdf[value_col]:
                h = int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16)
                j = h >> nbits
                low = h & mask
                rho = nbits + 1 - low.bit_length() if low else nbits + 1
                if rho > regs[j]:
                    regs[j] = rho
                n_seen += 1
        state.update((n_seen, regs))
        yield pd.DataFrame([{key_col: str(key[0]), "n_seen": n_seen,
                             "regs": regs}])

    return df.groupBy(key_col).applyInPandasWithState(
        fn, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="update", timeoutConf=GroupStateTimeout.NoTimeout)
