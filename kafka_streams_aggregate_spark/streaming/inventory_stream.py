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
from pyspark.sql.streaming.state import GroupStateTimeout

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

    # NESTED so cloudpickle ships it by value: executor Python workers
    # must never need this package importable (the calling harness may
    # run from any CWD without the repo on PYTHONPATH).
    def _fold_group(key, pdf_iter, state):
        """Per-key state function. Folds the micro-batch's events in
        seq order on top of the stored count (init 0, mirroring
        InventoryCountEvent.java:32), then emits one updated row — the
        latest aggregate for the key, i.e. the changelog record the
        reference produces per commit interval. In strict mode the
        aggregate can become None (tombstoned) mid-batch; if it ends the
        batch None, the key's state is removed and a NULL-count deletion
        marker is emitted."""
        import pandas as pd

        count = (state.get[0] if state.exists else None) if strict else (
            state.get[0] if state.exists else 0
        )
        rows = [pdf for pdf in pdf_iter]
        batch = pd.concat(rows) if len(rows) > 1 else rows[0]
        batch = batch.sort_values("seq")
        for action, delta in zip(batch["action"], batch["delta"]):
            if pd.isna(delta) or action is None:
                continue  # null-value record: dropped (Kafka Streams rule)
            d = int(delta)
            if action == "INC":
                count = (count or 0) + d
            elif action == "DEC":
                count = (count or 0) - d
            elif action == "REP":
                count = d
            else:
                count = None  # strict mode only: tombstone
        if strict and count is None:
            if state.exists:
                state.remove()
            yield pd.DataFrame({"product_code": [key[0]], "count": [None]})
        else:
            state.update((int(count),))
            yield pd.DataFrame({"product_code": [key[0]], "count": [count]})

    action_ok = F.col("action").isNotNull()
    if not strict:
        action_ok = action_ok & F.col("action").isin("INC", "DEC", "REP")
    valid = updates.filter(F.col("delta").isNotNull() & action_ok)
    return valid.groupBy("product_code").applyInPandasWithState(
        _fold_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
