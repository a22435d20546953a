"""Custom stateful streaming operator via applyInPandasWithState (I2 in
its state-store form).

streaming.incremental maintains pattern state as re-aggregated batch
snapshots — readable by any batch consumer, idempotent, but the merged
view costs a re-aggregation per read. This module is the other point in
the design space: TRUE streaming state, one entry per pattern in Spark's
state store, updated per micro-batch and emitted in ``update`` output
mode. Use it when consumers want per-batch deltas pushed to a sink rather
than a rebuildable snapshot.

Scale: state is (pattern → 4 scalars); the store shuffles by the group key
so each pattern's state lives on exactly one executor. Arrow batches carry
each group's new rows to Python — the per-batch Python work is
O(new rows), not O(state).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame

OUTPUT_SCHEMA = (
    "normalized_query string, frequency long, total_duration_ms double, "
    "first_seen timestamp, last_seen timestamp"
)
# timestamps kept as epoch-MICROS longs in the state tuple: state values
# round-trip through Arrow and naive-vs-aware pandas timestamps are a
# correctness trap; integers are not
STATE_SCHEMA = "frequency long, total_duration_ms double, first_us long, last_us long"


def stateful_pattern_counts(logs: DataFrame) -> DataFrame:
    """Per-pattern running (frequency, total duration, first/last seen),
    maintained in the state store across micro-batches. Emits one updated
    row per pattern per batch in which it received data."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        freq, total, first_us, last_us = (
            state.get if state.exists else (0, 0.0, None, None)
        )
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            freq += len(pdf)
            total += float(pdf["query_duration_ms"].sum())
            mn = int(pd.Timestamp(pdf["query_start_time"].min()).value // 1_000)
            mx = int(pd.Timestamp(pdf["query_start_time"].max()).value // 1_000)
            first_us = mn if first_us is None else min(first_us, mn)
            last_us = mx if last_us is None else max(last_us, mx)
        state.update((freq, total, first_us, last_us))
        yield pd.DataFrame(
            {
                "normalized_query": [key[0]],
                "frequency": [freq],
                "total_duration_ms": [total],
                "first_seen": [pd.to_datetime(first_us, unit="us")],
                "last_seen": [pd.to_datetime(last_us, unit="us")],
            }
        )

    return logs.groupBy("normalized_query").applyInPandasWithState(
        update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ANOMALY_OUTPUT_SCHEMA = (
    "user_id long, ts timestamp, event_id long, value double, "
    "trailing_mean double, trailing_std double, n_history long, "
    "zscore double"
)
# ring buffer of the last `lookback` values per user — bounded state
ANOMALY_STATE_SCHEMA = "vals array<double>"


def stateful_anomalies(
    events: DataFrame,
    lookback: int = 20,
    z_threshold: float = 3.0,
    min_history: int = 5,
) -> DataFrame:
    """Streaming version of operators.timeseries.trailing_anomalies: a
    per-user ring buffer of the last ``lookback`` values lives in the
    state store; each arriving row is scored against the buffer BEFORE
    being pushed (self-excluded window, min-history floor) and emitted
    only when flagged. With in-order delivery the emitted rows equal the
    batch operator's output exactly — st09 gates that equivalence.

    State is ``lookback`` doubles per user however long the stream runs;
    Arrow batches carry only each micro-batch's new rows to Python.
    Rows are ordered (ts, event_id) within each group per batch; cross-
    batch ordering is the source's job (file order / watermark upstream),
    the same event-time contract as the batch window."""
    import numpy as np

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _r6(x: "np.ndarray") -> "np.ndarray":
        # round half away from zero to 6 digits, elementwise
        return np.where(x < 0, -1.0, 1.0) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # r14 opt (guide §4.2): the original per-row loop built a fresh
        # numpy array and reduced it once per event (~100k asarray+mean+std
        # calls per batch at sf0.1). The self-excluded trailing window is
        # computed vectorized instead, BIT-IDENTICALLY: every window is a
        # contiguous float64 slice of `full` (carried ring + this batch's
        # values), and numpy's pairwise-summation mean/std kernels produce
        # the same double for the same contiguous window regardless of
        # whether it is reduced row-at-a-time (old) or as rows of a
        # sliding_window_view copy (new) — pinned by the scalar-reference
        # test. Only the ≤``lookback`` growing-head rows per key (window
        # still shorter than ``lookback``) take one scalar slice each.
        vals: list[float] = list(state.get[0]) if state.exists else []
        cols = [
            "user_id", "ts", "event_id", "value", "trailing_mean",
            "trailing_std", "n_history", "zscore",
        ]
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if not len(pdf):
            state.update((vals,))
            yield pd.DataFrame([], columns=cols)
            return
        pdf = pdf.sort_values(["ts", "event_id"])
        v = pdf["value"].to_numpy(np.float64)
        c, m, L = len(vals), len(v), lookback
        full = np.empty(c + m)
        full[:c] = vals
        full[c:] = v
        e = c + np.arange(m)          # window end (= prior-value count)
        n = np.minimum(e, L)          # n_history per row
        mean = np.zeros(m)
        std = np.zeros(m)             # 0 ⇒ excluded by the std>0 gate
        steady = e >= L
        if steady.any():
            sw = np.lib.stride_tricks.sliding_window_view(full, L)
            sel = sw[e[steady] - L]   # fancy-index copy: C-contiguous rows
            mean[steady] = sel.mean(axis=1)
            std[steady] = sel.std(axis=1, ddof=1)
        for j in np.flatnonzero(~steady):
            nj = int(e[j])
            if nj >= min_history:     # window = full[0:nj] (all priors)
                arr = full[:nj]
                mean[j] = arr.mean()
                std[j] = arr.std(ddof=1)
        score = np.flatnonzero((n >= min_history) & (std > 0))
        rz = _r6((v[score] - mean[score]) / std[score])
        rstd = _r6(std[score])
        hit = score[(rstd > 0) & (np.abs(rz) > z_threshold)]
        keep = (rstd > 0) & (np.abs(rz) > z_threshold)
        state.update((full[max(0, c + m - L):].tolist(),))
        yield pd.DataFrame(
            {
                # explicit int64 for the declared ``user_id long``: numpy's
                # inferred default int is platform-dependent (int32 on Windows)
                "user_id": np.full(len(hit), key[0], dtype=np.int64),
                "ts": pdf["ts"].to_numpy()[hit],
                "event_id": pdf["event_id"].to_numpy()[hit],
                "value": v[hit],
                "trailing_mean": _r6(mean[hit]),
                "trailing_std": rstd[keep],
                "n_history": n[hit],
                "zscore": rz[keep],
            },
            columns=cols,
        )

    # applyInPandasWithState ships EVERY input column to Python (guide
    # §4.1) — project to the four the scorer reads before the boundary
    return events.select("user_id", "ts", "event_id", "value").groupBy(
        "user_id"
    ).applyInPandasWithState(
        update,
        outputStructType=ANOMALY_OUTPUT_SCHEMA,
        stateStructType=ANOMALY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


TOPK_OUTPUT_SCHEMA = (
    "normalized_query string, query_id long, query_duration_ms double, "
    "rnk int"
)
TOPK_STATE_SCHEMA = "durs array<double>, ids array<long>"


def stateful_topk(logs: DataFrame, k: int = 3) -> DataFrame:
    """Cross-batch top-k maintenance in the state store: per pattern,
    keep the k SLOWEST queries (duration desc, query_id asc tie-break)
    seen so far, emitting the key's current leaderboard each batch it
    receives data. The ranked-state shape st02's scalar counters and
    st09's ring buffer don't cover — membership can be EVICTED by later
    batches, not just appended/updated.

    State is exactly k (double, long) pairs per key forever; each batch
    merges its Arrow-carried new rows into the k-list in Python
    (O(new + k) per key), so state neither grows with the stream nor
    re-sorts history. Emitted in update mode; the final leaderboard is
    recovered downstream as top-k over the distinct emitted rows (a
    pushed-out row always ranks below every survivor, so the union's
    top-k equals the final state — the st02 monotone-collapse
    discipline)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        durs: list[float]
        ids: list[int]
        durs, ids = (
            (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        )
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pairs = list(zip(durs, ids)) + [
                (float(d), int(i))
                for d, i in zip(pdf["query_duration_ms"], pdf["query_id"])
            ]
            # duration DESC, id ASC — the same total order the batch
            # row_number oracle uses
            pairs.sort(key=lambda p: (-p[0], p[1]))
            # re-delivered rows (at-least-once sources) must not occupy
            # two leaderboard slots: first (best) occurrence per id wins
            seen: set[int] = set()
            dedup = []
            for pr in pairs:
                if pr[1] not in seen:
                    seen.add(pr[1])
                    dedup.append(pr)
            pairs = dedup[:k]
            durs = [p[0] for p in pairs]
            ids = [p[1] for p in pairs]
            state.update((durs, ids))
            yield pd.DataFrame(
                {
                    "normalized_query": [key[0]] * len(pairs),
                    "query_id": ids,
                    "query_duration_ms": durs,
                    "rnk": list(range(1, len(pairs) + 1)),
                }
            )
        else:
            state.update((durs, ids))
            yield pd.DataFrame(
                columns=[
                    "normalized_query", "query_id", "query_duration_ms", "rnk"
                ]
            )

    return logs.groupBy("normalized_query").applyInPandasWithState(
        update,
        outputStructType=TOPK_OUTPUT_SCHEMA,
        stateStructType=TOPK_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
