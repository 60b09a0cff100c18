"""Streaming form of the inventory-count fold — the reference's actual
operating mode (continuous keyed aggregation over an event stream,
``KafkaStreamsInventoryCountApplication.java:69-85``).

Spark mapping (SURVEY.md §2.1/§3.2):
  - the KTable state store "inventory-counts" -> Structured Streaming
    per-key state inside ``applyInPandasWithState`` (long-lived, no
    TTL — reference state never expires);
  - changelog emission -> ``outputMode("update")``: the latest
    aggregate per changed key per micro-batch, exactly the conflation
    contract the reference's tests tolerate (record cache +
    commit.interval.ms=1000);
  - Kafka offset order -> explicit ``seq`` column, sorted inside each
    group before folding (REP makes order matter); cross-batch order is
    arrival order, as in Kafka Streams;
  - null-value records dropped before the fold (library rule the
    reference depends on).

Scale notes: state is hash-partitioned by key across executors (the
``groupBy`` shuffle); Arrow-batched transfer to the Python state
function; for very large key cardinality switch the state store
provider to RocksDB (``spark.sql.streaming.stateStore.providerClass``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_aggregate_spark.operators.pandas_ops import fold_stream_groups

OUTPUT_SCHEMA = "product_code string, count bigint"
STATE_SCHEMA = "count bigint"


def streaming_inventory_fold(updates: DataFrame, strict: bool = False) -> DataFrame:
    """Continuous keyed INC/DEC/REP fold over a streaming DataFrame of
    ``(product_code, seq, action, delta)``. Returns the update-mode
    changelog stream ``(product_code, count)``.

    ``strict=True`` enables the reference's S4d tombstone rule
    (``InventoryCountUpdateEventUpdater.java:40-41``: an unknown action
    returns a null aggregate, which Kafka Streams turns into a state-
    store delete + a null changelog record). Here: ``state.remove()`` +
    an emitted row with ``count = NULL`` — the deletion marker a
    downstream KTable consumer conflates into "key gone"; the next valid
    event for the key restarts from the initializer. With the default
    ``strict=False``, unknown actions are filtered before the fold
    (unreachable in the reference's closed enum).

    Pair with ``.writeStream.outputMode("update")``.
    """

    def init():
        return (0,)  # InventoryCountEvent.java:32

    def step(st, action, delta):
        d = int(delta)
        if action == "INC":
            return (st[0] + d,)
        if action == "DEC":
            return (st[0] - d,)
        if action == "REP":
            return (d,)
        return None  # strict mode only: tombstone

    def emit(product_code, st):
        return (product_code, None if st is None else st[0])

    action_ok = F.col("action").isNotNull()
    if not strict:
        action_ok = action_ok & F.col("action").isin("INC", "DEC", "REP")
    valid = updates.filter(F.col("delta").isNotNull() & action_ok)
    return fold_stream_groups(
        valid, "product_code", ("seq",), ("action", "delta"),
        OUTPUT_SCHEMA, STATE_SCHEMA, init, step, emit,
    )
