"""Continuous clamped-ledger operator — the streaming form of
q_clamped_balance (plans/catalog.py).

The per-key recurrence b_k = max(0, b_{k-1} + d_k) with clamp accounting
runs as an applyInPandasWithState operator with a GroupState tuple. It
carries ONE fixed-size (balance, n_clamps, n_seen) tuple per account —
state bounded by key cardinality, never event volume — and folds a
batch with a VECTORIZED kernel: the clamped recurrence is a reflected
random walk, so with prefix sums S_k (seeded by the carried balance) the
closed form is

    b_k      = S_k - min(0, min_{1<=j<=k} S_j)
    clamp_k  = S_k < min(0, min_{1<=j<k} S_j)

— two numpy cumulative mins, no Python row loop. The identity and its
prefix-decomposability (any micro-batch split folds to the same ledger)
are pinned in tests/test_transform_with_state.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

BALANCE_SCHEMA = "account BIGINT, balance BIGINT, n_clamps BIGINT, n_seen BIGINT"
_STATE_SCHEMA = "balance BIGINT, n_clamps BIGINT, n_seen BIGINT"


def clamped_fold_vectorized(b0: int, deltas) -> tuple[int, int]:
    """(final_balance, n_clamps) of b_k = max(0, b_{k-1} + d_k) starting
    at b0 >= 0, via the reflected-walk closed form — O(n) numpy, no
    Python loop. Also the reference kernel the streaming operator
    inlines (by-value closures, see windows.py on cloudpickle)."""
    import numpy as np

    d = np.asarray(deltas, dtype=np.int64)
    if d.size == 0:
        return int(b0), 0
    s = np.int64(b0) + np.cumsum(d)
    # m_k = min(0, S_1..S_{k-1}) — prefix-EXCLUSIVE running min, 0 floor
    m = np.minimum(
        np.minimum.accumulate(np.concatenate(([np.int64(0)], s[:-1]))), 0
    )
    n_clamps = int((s < m).sum())
    final = int(s[-1] - min(0, int(s.min())))
    return final, n_clamps


def start_clamped_balance_stream(stream: DataFrame, out_dir: str, checkpoint: str):
    """Start the continuous clamped-ledger stream over rows
    (account bigint, ts timestamp, event_id bigint, d bigint); emits one
    (account, balance, n_clamps, n_seen) row per key per micro-batch.

    A restarted query resumes the ledger exactly from the checkpointed
    state (asserted in tests); within a batch deltas apply in
    (ts, event_id) order, and the reflected fold is prefix-decomposable
    so ANY batch split yields the same ledger."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdf_iter, state: GroupState):
        import numpy as _np
        import pandas as _pd

        pdf = _pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
        b, clamps, seen = state.get if state.exists else (0, 0, 0)
        d = pdf["d"].to_numpy(dtype=_np.int64)
        s = _np.int64(b) + _np.cumsum(d)
        m = _np.minimum(
            _np.minimum.accumulate(_np.concatenate(([_np.int64(0)], s[:-1]))),
            0,
        )
        clamps += int((s < m).sum())
        b = int(s[-1] - min(0, int(s.min())))
        seen += int(d.size)
        state.update((b, clamps, seen))
        yield _pd.DataFrame(
            {
                "account": [int(key[0])],
                "balance": [b],
                "n_clamps": [clamps],
                "n_seen": [seen],
            }
        )

    transformed = stream.groupBy("account").applyInPandasWithState(
        update,
        outputStructType=BALANCE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        transformed.writeStream.foreachBatch(
            lambda batch, bid: batch.coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
