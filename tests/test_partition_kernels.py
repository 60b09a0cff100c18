"""The keyed-fold contract and its two drivers
(operators/pandas_ops.py: ``fold_sorted_groups``, ``fold_stream_groups``).

The batch driver holds the OPEN group's state between Arrow batches
because a batch boundary can split a group's row run. The default
10k-row Arrow batch never splits the small test groups, so this suite
forces 3-row batches and pins that every batch fold's output is
IDENTICAL to its default-batch output. The streaming driver is pinned
over two micro-batches (state carry, the null-aggregate delete and
restart), and the pickle-by-value rule is pinned by running pickled
folds in a process that cannot import this package.
"""

from __future__ import annotations

import pytest


@pytest.fixture()
def tiny_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    yield
    spark.conf.set(key, prev)


def _canon(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def _events(spark):
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.sources.tables import load_table

    return load_table(spark, "events", "/root/testdata/sf0.001").select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.floor(F.col("value") * 100).cast("bigint").alias("v_cents"),
    )


def test_brown_pair_split_batches(spark, tiny_arrow_batches):
    from kafka_streams_aggregate_spark.operators.pandas_ops import (
        brown_backtest,
        brown_double_smoothing,
    )

    ev = _events(spark)
    a = _canon(brown_double_smoothing(ev, "user_id", "value", "ts", "event_id"))
    b = _canon(brown_backtest(ev, "user_id", "value", "ts", "event_id"))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    assert a == _canon(
        brown_double_smoothing(ev, "user_id", "value", "ts", "event_id")
    )
    assert b == _canon(
        brown_backtest(ev, "user_id", "value", "ts", "event_id")
    )


def test_mann_kendall_split_batches(spark, tiny_arrow_batches):
    from kafka_streams_aggregate_spark.operators.stats import mann_kendall

    ev = _events(spark)
    a = _canon(mann_kendall(ev, "user_id", "ts", "event_id", "v_cents"))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    assert a == _canon(
        mann_kendall(ev, "user_id", "ts", "event_id", "v_cents")
    )


def test_costing_folds_split_batches(spark, tiny_arrow_batches):
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.operators.costing import (
        avco_perpetual_fold,
        ss_policy_sim,
    )
    from kafka_streams_aggregate_spark.sources.tables import load_table

    events = load_table(spark, "events", "/root/testdata/sf0.001")
    ledger = events.filter(
        F.col("event_type").isin("purchase", "error")
    ).select(
        F.col("user_id").alias("product"),
        F.col("event_id").alias("seq"),
        F.when(F.col("event_type") == "purchase", "IN")
        .otherwise("OUT")
        .alias("side"),
        (1 + F.floor("value").cast("bigint") % 10).alias("qty"),
        F.floor(F.col("value") * 100).cast("bigint").alias("unit_cents"),
    )
    li = load_table(spark, "lineitem", "/root/testdata/sf0.001").select(
        F.col("l_partkey").alias("product"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("d"),
        F.col("l_quantity").alias("qty"),
    )
    a = _canon(avco_perpetual_fold(ledger))
    s = _canon(ss_policy_sim(li, "product", "d", "qty"))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    assert a == _canon(avco_perpetual_fold(ledger))
    assert s == _canon(ss_policy_sim(li, "product", "d", "qty"))


def test_holt_winters_split_batches(spark, tiny_arrow_batches):
    # r16-opt regression net: holt_winters_additive moved to the
    # partition kernel this round; a 3-row Arrow batch must split its
    # series without changing any of the ten float outputs.
    from kafka_streams_aggregate_spark.operators.pandas_ops import (
        holt_winters_additive,
    )

    ev = _events(spark)
    a = _canon(holt_winters_additive(ev, "user_id", "value", "ts", "event_id"))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    assert a == _canon(
        holt_winters_additive(ev, "user_id", "value", "ts", "event_id")
    )
    assert a  # non-vacuous: sf0.001 has series with >= 2 periods


def test_ewma_query_split_batches(spark, tiny_arrow_batches):
    # r16-opt regression net for the q_ewma_smoothing kernel rewrite.
    from kafka_streams_aggregate_spark.registry import load_all

    q = load_all()["q_ewma_smoothing"].spark
    a = _canon(q(spark, "/root/testdata/sf0.001"))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    assert a == _canon(q(spark, "/root/testdata/sf0.001"))
    assert a


def test_croston_split_batches(spark, tiny_arrow_batches):
    from kafka_streams_aggregate_spark.operators.costing import (
        croston_forecast,
    )

    # Intermittent demand: every product has 8 demand events over 24
    # periods, so each product's event run spans several 3-row batches.
    grid = spark.createDataFrame(
        [
            (p, t, p + t % 4 if (p + t) % 3 == 0 else 0)
            for p in range(1, 7)
            for t in range(24)
        ],
        "product bigint, period bigint, qty bigint",
    )
    a = _canon(croston_forecast(grid))
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    assert a == _canon(croston_forecast(grid))
    assert len(a) == 6


def test_fold_sorted_groups_contract(spark, tiny_arrow_batches):
    from kafka_streams_aggregate_spark.operators.pandas_ops import (
        fold_sorted_groups,
    )

    # An order-sensitive fold: the values in step order, joined.
    def init():
        return ()

    def step(st, v):
        return st + (v,)

    def emit(k, st):
        return (k, len(st), ",".join(map(str, st))) if len(st) >= 2 else None

    # Key 1's run (8 rows) spans three 3-row Arrow batches; keys 3 and
    # 5 have one row each and are dropped by emit. Rows arrive in
    # reverse t order: the driver's sort, not the input, sets the order.
    runs = {1: 8, 2: 4, 3: 1, 4: 2, 5: 1}
    rows = [
        (k, t, 10 * k + t)
        for k, n in runs.items()
        for t in reversed(range(n))
    ]
    df = spark.createDataFrame(rows, "k bigint, t bigint, v bigint")
    got = fold_sorted_groups(
        df, "k", ("t",), ("v",), "k bigint, n bigint, trail string",
        init, step, emit,
    )
    want = sorted(
        (k, n, ",".join(str(10 * k + t) for t in range(n)))
        for k, n in runs.items()
        if n >= 2
    )
    assert sorted(tuple(r) for r in got.collect()) == want


def test_fold_stream_groups_two_batches(spark, tmp_path):
    from kafka_streams_aggregate_spark.operators.pandas_ops import (
        fold_stream_groups,
    )
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        _await_drained,
    )

    def init():
        return (0,)

    def step(st, v):
        return None if v < 0 else (st[0] + v,)  # v < 0: tombstone

    def emit(k, st):
        return (k, None if st is None else st[0])

    schema = "k string, seq bigint, v bigint"
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    collected = []

    def sink(batch_df, batch_id):
        collected.extend((batch_id, *r) for r in batch_df.collect())

    def run(rows, mode):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            mode
        ).parquet(src)
        folded = fold_stream_groups(
            spark.readStream.schema(schema).parquet(src),
            "k", ("seq",), ("v",), "k string, total bigint",
            "total bigint", init, step, emit,
        )
        collected.clear()
        q = (
            folded.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_drained(q, 120)
        return sorted(r[1:] for r in collected)

    # Rows in reverse seq order: the driver's sort applies d's
    # tombstone first, then +6, which restarts from init().
    first = [
        ("d", 2, 6), ("d", 1, -1), ("c", 1, 7), ("b", 1, 5),
        ("a", 2, 2), ("a", 1, 1),
    ]
    assert run(first, "overwrite") == [("a", 3), ("b", 5), ("c", 7), ("d", 6)]
    # a and d resume from their stored state; b's stored 5 is deleted
    # by the tombstone (NULL row); c has no event, so no row.
    second = [("b", 2, -1), ("a", 3, 10), ("d", 3, 1)]
    assert run(second, "append") == [("a", 13), ("b", None), ("d", 7)]
    # b's state is gone, so its next event restarts from init().
    assert run([("b", 3, 4)], "append") == [("b", 4)]


_PICKLED_FOLDS_CHILD = """
import importlib.util, pickle, sys

import pandas as pd

assert importlib.util.find_spec("kafka_streams_aggregate_spark") is None

kernel, (ss_init, ss_step) = pickle.load(open(sys.argv[1], "rb"))
batches = [
    pd.DataFrame({"k": [1, 1, 1], "v": [4.0, 2.0, 8.0]}),
    pd.DataFrame({"k": [1, 2, 2], "v": [6.0, 1.0, 3.0]}),
]
rows = [
    r for out in kernel(iter(batches))
    for r in out.itertuples(index=False, name=None)
]
st = ss_init()
for q in (30, 75, 10, 50):
    st = ss_step(st, q)
print(repr((rows, st, "kafka_streams_aggregate_spark" in sys.modules)))
"""


def test_folds_pickle_by_value(tmp_path):
    """CLAUDE.md's self-contained-closure rule: a batch kernel closure
    and a shared twin fold, pickled the way Spark ships them, run in a
    process that has neither the repository nor this package."""
    import ast
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from kafka_streams_aggregate_spark.operators.costing import ss_policy_fold
    from kafka_streams_aggregate_spark.operators.pandas_ops import (
        _sorted_fold_kernel,
        ewma_fold,
    )

    def emit(k, st):
        return (k, st[1], st[0])

    kernel = _sorted_fold_kernel(
        "k", ["v"], ["k", "n_events", "ewma_last"], *ewma_fold(), emit
    )
    blob = tmp_path / "folds.pkl"
    blob.write_bytes(cloudpickle.dumps((kernel, ss_policy_fold(20, 100))))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _PICKLED_FOLDS_CHILD, str(blob)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    ).stdout
    rows, ss_state, imported = ast.literal_eval(out.strip())
    # k=1: 4, 2, 8, 6 (the run spans both batches); k=2: 1, 3.
    s1 = 0.5 * 6.0 + 0.5 * (0.5 * 8.0 + 0.5 * (0.5 * 2.0 + 0.5 * 4.0))
    assert rows == [(1, 4, s1), (2, 2, 0.5 * 3.0 + 0.5 * 1.0)]
    # (s, S) = (20, 100): 100-30=70; 70-70=0 -> reorder, lost 5; 90;
    # 90-50=40. State (on_hand, lost, orders, n_days, total).
    assert ss_state == (40, 5, 1, 4, 165)
    assert imported is False
