"""Streaming (s, S) inventory-policy monitor: the cross-batch
incremental twin of ``operators/costing.py:ss_policy_sim``, running
the same ``ss_policy_fold``.

The reference app is a Kafka changelog consumer keeping per-key counts;
the operational question a warehouse asks of that stream is "did we
just cross the reorder point, and what have we lost to stockouts so
far?" — which is exactly the (s, S) fold run INCREMENTALLY: state per
product is five int64s (on_hand, lost, orders, n_days, total) carried across
micro-batches by ``applyInPandasWithState``; each batch walks its
demand days in day order (the staged day-split source keeps per-key
day order across the batch boundary).

Everything is exact integer arithmetic, so the streamed final state is
cell-exact against the SAME recursive-CTE oracle the batch operator
uses — the state carry across batches is precisely what the hash
verifies.

Scale shape: one hash exchange per micro-batch; O(1) state per product
forever; Arrow-batched transfer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kafka_streams_aggregate_spark.operators.costing import ss_policy_fold
from kafka_streams_aggregate_spark.operators.pandas_ops import fold_stream_groups

SS_STATE_SCHEMA = (
    "on_hand long, lost long, orders long, n_days long, total long"
)
SS_OUT_SCHEMA = (
    "product long, n_days long, lost_sales long, n_orders long, "
    "end_on_hand long"
)


def streaming_ss_policy(
    demand: DataFrame, s_small: int = 20, s_big: int = 100
) -> DataFrame:
    """Per-product (s, S) fold over a stream of ``(product, d, qty)``
    daily-demand rows: one UPDATE row per (product, batch) with the
    running day count, lost sales, order count, and position."""

    init, step = ss_policy_fold(s_small, s_big)

    def emit(product, st):
        on_hand, lost, orders, n_days, _ = st
        return (product, n_days, lost, orders, on_hand)

    return fold_stream_groups(
        demand, "product", ("d",), ("qty",),
        SS_OUT_SCHEMA, SS_STATE_SCHEMA, init, step, emit,
    )
