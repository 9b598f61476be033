"""Event-time windowed/stateful streaming operators (SURVEY §2.2 last row).

The reference is stateless per-file batch; these are the streaming
capabilities its architecture implies (continuous flow-log feeds are the
native shape of VPC Flow Logs). All operators take an *unbounded* DataFrame
(``spark.readStream``) and return a transformed unbounded DataFrame the
caller sinks; watermarks bound state so they run forever at 100 TB/day:

- tumbling/sliding window aggregations over event time
- session windows (gap-based)
- exact dedup within a watermark horizon
- one stream-stream join within an event-time horizon, inner or outer
- custom stateful operators (running stats, CEP patterns, absence,
  funnels) on ``applyInPandasWithState``

The batch twins of these semantics are oracle-verified in the catalog
(q_time_bucket, q_session_dedup); streaming tests drive file sources to
completion with processAllAvailable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.casts import exact_sum


#: every operator's event-time column and watermark delay (late rows
#: beyond it drop out of state instead of accumulating it)
TS = "ts"
WATERMARK = "30 minutes"


def tumbling_agg(events: DataFrame) -> DataFrame:
    """1-hour tumbling event-time windows per event type."""
    return (
        events.withWatermark(TS, WATERMARK)
        .groupBy(F.window(TS, "1 hour"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            exact_sum("value", 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """1-hour windows every 30 minutes: each event lands in two."""
    return (
        events.withWatermark(TS, WATERMARK)
        .groupBy(F.window(TS, "1 hour", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "n",
        )
    )


#: session_window gap: a session closes after 30 quiet minutes
SESSION_GAP = "30 minutes"


def sessionized(events: DataFrame) -> DataFrame:
    """Gap-based session windows per user (session_window merges runs of
    events separated by < SESSION_GAP)."""
    return (
        events.withWatermark(TS, WATERMARK)
        .groupBy(F.session_window(TS, SESSION_GAP), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running stats (event count, max value, last event time) maintained in
    explicit group state across micro-batches.

    This is the escape hatch for stateful semantics Spark's built-in
    windowed aggregations cannot express (arbitrary per-key accumulators,
    custom merge logic). Each micro-batch emits the *updated* totals for
    exactly the keys it touched (update semantics); state is one fixed-size
    tuple per user — O(#distinct users), independent of stream length, so
    at 100 TB/day the state store is bounded by key cardinality and
    partitioned across executors by the groupBy hash. All per-batch work is
    Arrow-batched pandas, never row-at-a-time Python.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, max_value double, last_ts timestamp"
    state_schema = "n bigint, mx double, last_us bigint"

    def update(key, pdf_iter, state: GroupState):
        n, mx, last_us = state.get if state.exists else (0, None, None)
        for pdf in pdf_iter:
            n += len(pdf)
            v = pdf["value"].max()
            if not pd.isna(v):
                mx = float(v) if mx is None else max(mx, float(v))
            t = pdf[TS].max()
            if not pd.isna(t):
                t_us = t.value // 1000  # pd.Timestamp.value is ns
                last_us = t_us if last_us is None else max(last_us, t_us)
        state.update((n, mx, last_us))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [mx],
                "last_ts": [
                    pd.Timestamp(last_us, unit="us") if last_us is not None else pd.NaT
                ],
            }
        )

    return (
        events.withWatermark(TS, WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def stream_stream_join(
    left: DataFrame, right: DataFrame, how: str, horizon: str
) -> DataFrame:
    """Stream-stream join within an event-time horizon: each left event
    pairs with the right events of the same user whose timestamp falls in
    ``[left.ts, left.ts + horizon]``; ``how`` is the join type
    (``inner``, ``left_outer``, ``full_outer``).

    CONTRACT: both inputs already carry event-time watermarks, applied
    UPSTREAM of any filtering — a watermark node placed after a filter
    never sees the pusher rows the filter drops. The time-range condition
    is what lets Spark expire buffered state on BOTH sides: a left row
    can be dropped once the right watermark passes ``left.ts + horizon``,
    and a right row once the left watermark passes ``right.ts``. Without
    it the state store grows without bound — the difference between a
    demo and an operator that survives an unbounded 100 TB/day feed.

    Inner matches emit immediately (append semantics), so latency is one
    micro-batch, not one watermark delay. An outer join's null rows are
    different: "unmatched" is only a fact once the watermark PROVES no
    future row can still match, and the two proofs are asymmetric — an
    unmatched LEFT row needs the right watermark past ``l_ts + horizon``,
    an unmatched RIGHT row needs the left watermark past ``r_ts`` only
    (its matching lefts all lie at or before it). A terminating
    (availableNow) run therefore needs watermark-pusher batches AFTER the
    data on every side whose nulls it emits — the join emits nothing for
    still-buffered rows at end-of-stream otherwise (see the sentinel
    staging of q_stream_join_outer and q_stream_join_full_outer).
    """
    l = left.select(
        F.col("user_id").alias("l_key"),
        F.col("event_id").alias("l_event_id"),
        F.col(TS).alias("l_ts"),
    )
    r = right.select(
        F.col("user_id").alias("r_key"),
        F.col("event_id").alias("r_event_id"),
        F.col(TS).alias("r_ts"),
    )
    return l.join(
        r,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Exactly-once per (user, event type) within the watermark horizon:
    the streaming form of exact dedup — state is bounded by the
    watermark, so this sustains unbounded input (operators/dedup.py
    holds the batch forms)."""
    return events.withWatermark(TS, WATERMARK).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", TS]
    )


def stream_cep_peaks(events: DataFrame) -> DataFrame:
    """Streaming CEP pattern match (the Flink-CEP / MATCH_RECOGNIZE
    shape) via ``applyInPandasWithState``: per user, detect
    rise-rise-peak-fall — two strictly increasing steps into a local
    maximum, confirmed by the NEXT event falling — and emit per-batch
    DELTA counts of confirmed peaks per event type.

    ORDERING PRECONDITION: batch-equivalence holds when each key's
    events arrive batch-monotonically — every event in batch N+1 is
    (ts, event_id)-after that key's events in batch N (true for file
    replays, ordered logs, and the availableNow single-batch harness).
    Rows ARE sorted within each batch, but a within-watermark late row
    landing in a later batch is appended after the stored suffix, so
    its neighborhood is evaluated out of order — the standard CEP
    trade-off, taken for O(1) state per key (a late-tolerant form would
    buffer each key's rows until the watermark finalizes them, at
    O(watermark-span) state per key).

    The state is the minimal suffix the pattern needs: the last ≤ 3
    (value, type) pairs plus how many are real. A peak at position p is
    decidable only when p+1 arrives, so the final element of every
    micro-batch stays pending in the tail and is confirmed (or not) by
    the first element of the next batch — exactly the batch operator's
    lead()-null semantics at end-of-stream (q_cep_pattern,
    plans/catalog.py). Within a batch the group's rows are sorted by the
    total (ts, event_id) order; the detection itself is three vectorized
    shifted comparisons over the prefixed series — no row-at-a-time
    Python. State is O(1) per user (3 floats + a tag), so at 100 TB/day
    the store is bounded by key cardinality, hashed across executors by
    the groupBy."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, event_type string, n_peaks bigint"
    state_schema = (
        "v2 double, v1 double, v0 double, t0 string, have int"
    )
    cep_advance, cep_out_frame = _cep_kernel()
    # project BEFORE the stateful op: applyInPandasWithState ships every
    # input column through Arrow to the Python worker (it cannot prune
    # what the closure uses), and the events stream carries a wide JSON
    # props column the automaton never reads. Together with the numpy
    # per-key fast path below: 4.95 -> 3.0 s on the sf0.1 bench entry.
    events = events.select("user_id", TS, "event_id", "event_type", "value")

    def update(key, pdf_iter, state: GroupState):
        # per-KEY fast path (this closure runs ~|users| times per
        # micro-batch): numpy column pulls + one lexsort instead of a
        # pandas concat/sort_values per key, and NO yield at all for the
        # (overwhelmingly common) zero-peak keys — constructing an empty
        # DataFrame per key cost more than the automaton itself.
        import numpy as np

        tail = state.get if state.exists else (None, None, None, None, 0)
        ts_l, eid_l, typ_l, val_l = [], [], [], []
        for pdf in pdf_iter:
            if len(pdf):
                ts_l.append(pdf[TS].to_numpy())
                eid_l.append(pdf["event_id"].to_numpy())
                typ_l.append(pdf["event_type"].to_numpy())
                val_l.append(pdf["value"].to_numpy())
        counts: dict[str, int] = {}
        if val_l:
            ts_a = ts_l[0] if len(ts_l) == 1 else np.concatenate(ts_l)
            eid_a = eid_l[0] if len(eid_l) == 1 else np.concatenate(eid_l)
            order = np.lexsort((eid_a, ts_a))
            vals = (
                val_l[0] if len(val_l) == 1 else np.concatenate(val_l)
            )[order].astype(np.float64, copy=False)
            types = (
                typ_l[0] if len(typ_l) == 1 else np.concatenate(typ_l)
            )[order]
            counts, tail = cep_advance(tail, vals, types)
        state.update(tail)
        if counts:
            yield cep_out_frame(pd, key[0], counts)

    return (
        events.withWatermark(TS, WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def _cep_kernel():
    """Build the shared rise-rise-peak automaton as NESTED functions so
    cloudpickle serializes them BY VALUE into the state-update closures
    (module-level functions pickle by reference, and the driver's
    harness runs workers without this package on their PYTHONPATH —
    the same by-value-closure rule every other worker-side kernel in
    this package follows)."""

    def cep_advance(tail, vals, types):
        # Advance the automaton over a key's next in-order values.
        # ``tail`` is (v2, v1, v0, t0, have) — the last ≤ 3 seen values,
        # the type at the last one, and how many are real. Returns
        # (delta counts by type, new tail). A peak at position p is
        # counted only when its successor is fed, so the final value
        # ever fed stays pending — the batch operator's lead()-null
        # semantics.
        #
        # numpy slices, not pandas Series/shift: this runs once per KEY
        # per micro-batch, and with ~30k user keys the per-call Series
        # construction overhead dominated the whole operator (the shift
        # arithmetic itself is identical).
        import numpy as np

        v2, v1, v0, t0, have = tail
        n_new = len(vals)
        if not n_new:
            return {}, tail
        tail_vals = list((v2, v1, v0)[3 - have :]) if have else []
        tail_types = ([None] * (have - 1) + [t0]) if have else []
        s = np.empty(len(tail_vals) + n_new, dtype=np.float64)
        s[: len(tail_vals)] = tail_vals
        s[len(tail_vals) :] = vals
        t = tail_types + list(types)
        n = len(s)
        counts: dict[str, int] = {}
        if n >= 4:
            # mask index i <=> position p = i + 2 (2 <= p <= n - 2):
            # s[p-2] < s[p-1] < s[p] and s[p+1] < s[p]
            m = (
                (s[:-3] < s[1:-2]) & (s[1:-2] < s[2:-1]) & (s[3:] < s[2:-1])
            )
            first_decidable = max(2, have - 1)
            for i in np.nonzero(m)[0]:
                p = int(i) + 2
                if p >= first_decidable:
                    typ = t[p]
                    counts[typ] = counts.get(typ, 0) + 1
        vals3 = [None, None, None]
        for i in range(min(3, n)):
            vals3[2 - i] = float(s[n - 1 - i])
        return counts, (
            vals3[0],
            vals3[1],
            vals3[2],
            t[n - 1],
            min(have + n_new, 3),
        )

    def cep_out_frame(pd, user_id, counts):
        if counts:
            return pd.DataFrame(
                {
                    "user_id": [user_id] * len(counts),
                    "event_type": list(counts),
                    "n_peaks": list(counts.values()),
                }
            )
        return pd.DataFrame({"user_id": [], "event_type": [], "n_peaks": []})

    return cep_advance, cep_out_frame


#: stream_absence: a click (the trigger) no purchase (the expected
#: event) follows within one hour is an abandonment
ABSENCE_TRIGGER = "click"
ABSENCE_EXPECTED = "purchase"
ABSENCE_GAP_US = 3_600_000_000


def stream_absence(events: DataFrame) -> DataFrame:
    """Streaming ABSENCE / timeout detection (the Flink-CEP
    ``notFollowedBy`` + within() shape, the second CEP family next to
    :func:`stream_cep_peaks`'s sequence matcher): per user, a TRIGGER
    event (click) with NO EXPECTED event (purchase) in the following
    ``ABSENCE_GAP_US`` window is an abandonment — but absence is only
    *confirmable* once the stream provably advances past the deadline,
    so the operator emits a per-batch DELTA count of clicks whose
    deadline passed unanswered, and holds not-yet-decidable clicks in
    state.

    Decision rule per candidate click at t (identical to the batch
    twin in q_stream_absence's oracle): PRESENT if some expected event
    has t < p_us <= t + ABSENCE_GAP_US; ABSENT once the key's observed horizon
    (max event-time seen, any type) exceeds t + ABSENCE_GAP_US without such an
    event; PENDING otherwise. ORDERING PRECONDITION: batch-monotonic
    per key, as stream_cep_peaks documents — within-watermark late
    rows landing in later batches are evaluated against the later
    horizon (the standard CEP trade).

    State is the CSV of pending trigger timestamps — bounded by the
    trigger rate within one gap window (watermark-aged), not by stream
    length. The kernel is vectorized: one searchsorted of candidate
    deadlines into the batch's sorted expected-event timestamps, no
    per-row Python."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_abandoned bigint"
    state_schema = "pending string"
    events = events.select("user_id", TS, "event_type")

    def update(key, pdf_iter, state: GroupState):
        import numpy as np

        pend: list[int] = []
        if state.exists and state.get[0]:
            pend = [int(x) for x in state.get[0].split(",")]
        us_l, typ_l = [], []
        for pdf in pdf_iter:
            if len(pdf):
                us_l.append(
                    pdf[TS]
                    .to_numpy()
                    .astype("datetime64[us]")
                    .astype("int64")
                )
                typ_l.append(pdf["event_type"].to_numpy())
        n_abandoned = 0
        if us_l:
            us = us_l[0] if len(us_l) == 1 else np.concatenate(us_l)
            typ = typ_l[0] if len(typ_l) == 1 else np.concatenate(typ_l)
            horizon = int(us.max())
            exp_us = np.sort(us[typ == ABSENCE_EXPECTED])
            cand = np.sort(
                np.concatenate(
                    [np.asarray(pend, dtype="int64"), us[typ == ABSENCE_TRIGGER]]
                )
            )
            if len(cand):
                # present: some expected event in (t, t+gap]
                if len(exp_us):
                    idx = np.searchsorted(exp_us, cand, side="right")
                    has_next = idx < len(exp_us)
                    nxt = np.where(
                        has_next,
                        exp_us[np.minimum(idx, len(exp_us) - 1)],
                        np.iinfo("int64").max,
                    )
                    present = has_next & (nxt <= cand + ABSENCE_GAP_US)
                else:
                    present = np.zeros(len(cand), dtype=bool)
                expired = cand + ABSENCE_GAP_US < horizon
                absent = (~present) & expired
                n_abandoned = int(absent.sum())
                pend = [int(x) for x in cand[(~present) & (~expired)]]
        state.update((",".join(str(x) for x in pend),))
        if n_abandoned:
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_abandoned": [n_abandoned]}
            )

    return (
        events.withWatermark(TS, WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


#: stream_funnel: the three stages in order, and the window (2 days)
#: the whole chain must complete within
FUNNEL_STAGES = ("view", "click", "purchase")
FUNNEL_WITHIN_US = 172_800_000_000


def stream_funnel(events: DataFrame) -> DataFrame:
    """Streaming 3-STAGE FUNNEL matcher (the Flink-CEP ``next/followedBy``
    sequence-with-deadline shape — the third CEP family next to
    :func:`stream_cep_peaks`'s local-extremum matcher and
    :func:`stream_absence`'s notFollowedBy): per user, match the
    EARLIEST deterministic chain v = first ``FUNNEL_STAGES[0]`` event,
    c = first ``FUNNEL_STAGES[1]`` strictly after v, p = first
    ``FUNNEL_STAGES[2]`` strictly after c; the funnel COMPLETES iff
    p - v <= ``FUNNEL_WITHIN_US``.

    Emits (user_id, v_us, c_us, p_us) exactly once when the chain
    resolves within the window; a chain that resolves OUTSIDE the
    window emits nothing and closes — earliest-chain semantics make
    the decision final either way, which is what makes the operator's
    output independent of batch boundaries (given the same
    batch-monotonic-per-key ordering precondition stream_cep_peaks
    documents). State is three int64 stage marks + a done flag — O(1)
    per key regardless of stream length, the property that lets the
    operator run forever at 100 TB/day. The kernel is vectorized
    (three masked mins per batch), no per-row Python."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    s1, s2, s3 = FUNNEL_STAGES
    out_schema = "user_id bigint, v_us bigint, c_us bigint, p_us bigint"
    state_schema = "v bigint, c bigint, done int"
    events = events.select("user_id", TS, "event_type")

    def update(key, pdf_iter, state: GroupState):
        import numpy as np

        v, c, done = (-1, -1, 0)
        if state.exists:
            v, c, done = (int(state.get[0]), int(state.get[1]), int(state.get[2]))
        us_l, typ_l = [], []
        for pdf in pdf_iter:
            if len(pdf):
                us_l.append(
                    pdf[TS]
                    .to_numpy()
                    .astype("datetime64[us]")
                    .astype("int64")
                )
                typ_l.append(pdf["event_type"].to_numpy())
        rows = None
        if us_l and not done:
            us = us_l[0] if len(us_l) == 1 else np.concatenate(us_l)
            typ = typ_l[0] if len(typ_l) == 1 else np.concatenate(typ_l)
            if v < 0:
                m = us[typ == s1]
                if len(m):
                    v = int(m.min())
            if v >= 0 and c < 0:
                m = us[(typ == s2) & (us > v)]
                if len(m):
                    c = int(m.min())
            if c >= 0:
                m = us[(typ == s3) & (us > c)]
                if len(m):
                    p = int(m.min())
                    done = 1
                    if p - v <= FUNNEL_WITHIN_US:
                        rows = pd.DataFrame(
                            {
                                "user_id": [key[0]],
                                "v_us": [v],
                                "c_us": [c],
                                "p_us": [p],
                            }
                        )
        state.update((v, c, done))
        if rows is not None:
            yield rows

    return (
        events.withWatermark(TS, WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            out_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
