"""Streaming CUSUM change detection: the cross-batch incremental twin
of ``q_change_point_cusum``'s batch audit.

The one-sided CUSUM recurrence S_i = max(0, S_{i-1} + (v_i - k))
(Page 1954) is the canonical streaming drift detector: O(1) state per
series, an alarm whenever S crosses the decision threshold h. Here the
whole fold is EXACT INT64 — values enter as floor(value*100) cents and
k, h are integer cents — so the streamed result is cell-exact against
a NON-RECURSIVE closed-form oracle, via the reflection identity

    S_i = P_i - min(0, min_{j<=i} P_j),   P = prefix sums of (v - k)

(the same identity that turns a max(0, ...) fold into a running-min
window; provable by induction — both sides are 0 exactly when the
prefix minimum is attained at or after i).

State per key: (cusum, n, n_alarms, cusum_max) — four int64s, carried
across micro-batches by applyInPandasWithState; each batch sorts its
slice by (ts_us, event_id), which the staged time-split source keeps
globally ordered per key.

Scale shape: one hash exchange per micro-batch; O(1) state per series
forever; Arrow-batched transfer; no Python in any non-fold stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafka_streams_aggregate_spark.operators.pandas_ops import fold_stream_groups

CUSUM_STATE_SCHEMA = "s long, n long, n_alarms long, s_max long"
CUSUM_OUT_SCHEMA = (
    "user_id long, n_events long, cusum_last long, cusum_max long, "
    "n_alarms long"
)


def streaming_cusum(
    events: DataFrame, k_cents: int = 5000, h_cents: int = 50000
) -> DataFrame:
    """Per-user one-sided CUSUM over ``(user_id, event_id, ts_us,
    value)``: one UPDATE row per (user, batch) with the running
    statistic, its max, and the alarm count so far."""

    import math

    def init():
        return (0, 0, 0, 0)  # s, n, n_alarms, s_max

    def step(st, v):
        s, n, n_alarms, s_max = st
        s = s + (int(math.floor(float(v) * 100.0)) - k_cents)
        if s < 0:
            s = 0
        if s > h_cents:
            n_alarms += 1
        return (s, n + 1, n_alarms, max(s, s_max))

    def emit(user_id, st):
        s, n, n_alarms, s_max = st
        return (user_id, n, s, s_max, n_alarms)

    return fold_stream_groups(
        events, "user_id", ("ts_us", "event_id"), ("value",),
        CUSUM_OUT_SCHEMA, CUSUM_STATE_SCHEMA, init, step, emit,
    )
