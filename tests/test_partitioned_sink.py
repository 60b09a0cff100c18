"""Hive-style partitioned parquet sink + partition pruning on re-read.

The write-side twin of predicate pushdown: a 100 TB table laid out as
`status=X/` directories lets any filter on the partition column skip
whole directories at planning time (PartitionFilters on the scan, no
data read), and `spark.sql.files.maxRecordsPerFile`-style knobs decide
file sizes. Pins both the layout and the pruned-scan plan property."""

from __future__ import annotations

import pathlib

import pytest

from kafka_streams_aggregate_spark.plans.inspect import formatted_plan
from kafka_streams_aggregate_spark.sources.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def partitioned_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("psink") / "orders_by_status")
    load_table(spark, "orders", SF).write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(out)
    return out


def test_layout_is_one_directory_per_status(spark, partitioned_dir):
    dirs = sorted(
        p.name
        for p in pathlib.Path(partitioned_dir).iterdir()
        if p.is_dir() and p.name.startswith("o_orderstatus=")
    )
    assert dirs == [
        "o_orderstatus=F",
        "o_orderstatus=O",
        "o_orderstatus=P",
    ]


def test_partition_filter_prunes_at_plan_time(spark, partitioned_dir):
    df = spark.read.parquet(partitioned_dir).filter("o_orderstatus = 'F'")
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan, plan
    # The status predicate must appear as a partition filter (directory
    # skip), NOT as a pushed data filter (row-group skip).
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("o_orderstatus" in ln for ln in pf_lines), plan
    pd_lines = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert not any("o_orderstatus" in ln for ln in pd_lines), plan


def test_partitioned_roundtrip_counts(spark, partitioned_dir):
    orig = load_table(spark, "orders", SF)
    back = spark.read.parquet(partitioned_dir)
    assert back.count() == orig.count()
    assert (
        back.filter("o_orderstatus = 'F'").count()
        == orig.filter("o_orderstatus = 'F'").count()
    )


def _drain_ids(spark, tmp_path):
    """Drain 100 ids with their id % 7 bucket through ``drain``."""
    from kafka_streams_aggregate_spark.sources.eventlog_source import drain

    src = str(tmp_path / "src")
    spark.range(100).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS bucket"
    ).write.parquet(src)
    stream = spark.readStream.schema("id long, bucket string").parquet(src)
    return drain(stream, str(tmp_path / "w"), "id bigint, bucket string")


def _manifests(work):
    import glob

    return sorted(glob.glob(f"{work}/sinkout/manifest/*.json"))


def test_drain_append_roundtrip(spark, tmp_path):
    # Append mode: foreachBatch + distributed JVM json + per-batch
    # manifest. Only manifest-listed batch dirs count.
    import json

    out = _drain_ids(spark, tmp_path)
    rows = {r["id"]: r["bucket"] for r in out.collect()}
    assert len(rows) == 100 and rows[13] == "6"
    manifests = _manifests(str(tmp_path / "w"))
    assert manifests, "the drain must publish manifests"
    for mf in manifests:
        meta = json.load(open(mf))
        assert "dir" in meta and "batch" in meta


def test_drain_matches_eventlog_sink(spark, tmp_path):
    # The Python-DataSource sink (q_sink_exactly_once's declared
    # surface): per-task .jsonl files, a per-batch manifest listing
    # exactly the committed files, and committed rows identical to
    # the drain's.
    import glob
    import json

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        drain_eventlog_sink,
        read_eventlog_sink,
    )

    out_fb = _drain_ids(spark, tmp_path)
    stream = spark.readStream.schema("id long, bucket string").parquet(
        str(tmp_path / "src")
    )
    outdir = drain_eventlog_sink(stream, str(tmp_path / "ds"))
    out_ds = read_eventlog_sink(spark, outdir, "id bigint, bucket string")
    rows_ds = sorted((r["id"], r["bucket"]) for r in out_ds.collect())
    rows_fb = sorted((r["id"], r["bucket"]) for r in out_fb.collect())
    assert rows_ds == rows_fb and len(rows_ds) == 100
    # Only manifest-listed files count: every data file must be listed.
    listed = set()
    for mf in glob.glob(f"{outdir}/manifest/*.json"):
        listed.update(e["file"] for e in json.load(open(mf))["files"])
    on_disk = {f.split("/")[-1] for f in glob.glob(f"{outdir}/data/*.jsonl")}
    assert on_disk == listed


def test_drain_append_timestamp_micros(spark, tmp_path):
    # The JSON default truncates timestamps to millis on write; the
    # drain must roundtrip MICROsecond precision (explicit
    # timestampFormat on both sides).
    from kafka_streams_aggregate_spark.sources.eventlog_source import drain

    src = str(tmp_path / "src")
    spark.sql(
        "SELECT timestamp_micros(1705363200123456) AS ts, 1 AS k"
    ).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, k int").parquet(src)
    out = drain(stream, str(tmp_path / "w"), "ts timestamp, k int")
    [row] = out.collect()
    assert row["ts"].microsecond == 123456


def test_drain_update_latest_wins(spark, tmp_path):
    # Update mode (a key is given): two micro-batches update the same
    # keys; the result is the latest batch's row per key, with no
    # batch-id column left over.
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        drain,
        stage_file,
    )

    work = str(tmp_path / "w")
    stage_file(spark.range(50).selectExpr("id % 5 AS k", "id AS v"), work, 0)
    stage_file(spark.range(50, 53).selectExpr("id % 5 AS k", "id AS v"), work, 1)
    stream = (
        spark.readStream.schema("k long, v long")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{work}/src")
        .groupBy("k")
        .agg(F.max("v").alias("v"))
    )
    out = drain(stream, work, "k bigint, v bigint", key="k")
    assert out.columns == ["k", "v"]
    rows = sorted((r["k"], r["v"]) for r in out.collect())
    assert rows == [(0, 50), (1, 51), (2, 52), (3, 48), (4, 49)]
    assert len(_manifests(work)) == 2  # genuinely two batches


def test_drain_empty_stream(spark, tmp_path):
    from kafka_streams_aggregate_spark.sources.eventlog_source import drain

    src = str(tmp_path / "src")
    spark.range(10).selectExpr("id").filter("id < 0").write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    out = drain(stream, str(tmp_path / "w"), "id bigint")
    assert out.count() == 0 and out.schema.simpleString() == "struct<id:bigint>"


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restart-with-checkpoint contract: a second availableNow run over
    the SAME checkpoint must resume from committed offsets — the rows
    of batch 0 appear exactly once in the combined manifests even
    though the first file is still in the source directory, and batch
    ids continue instead of restarting."""
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        drain,
        stage_file,
    )

    work = str(tmp_path / "w")

    def stage(n_lo, n_hi, seq):
        stage_file(
            spark.range(n_lo, n_hi).select(
                F.col("id").alias("event_id"),
                (F.col("id") % 7).alias("k"),
            ),
            work, seq,
        )

    def run():
        stream = spark.readStream.schema("event_id bigint, k bigint").parquet(
            f"{work}/src"
        )
        return drain(stream, work, "event_id bigint, k bigint")

    stage(0, 100, 0)
    first = run()
    assert first.count() == 100

    stage(100, 150, 1)
    both = run()  # SAME work dir: same checkpoint, same sink manifests
    # Exactly once: 150 rows total, every event_id distinct, despite
    # the first file still sitting in src on the second run.
    assert both.count() == 150
    assert both.select("event_id").distinct().count() == 150
    # Batch ids continued: two committed manifests, not a restart at 0.
    assert len(_manifests(work)) == 2


# --- Fault injection: the manifest contract gives the exact rows or a
# --- loud error, never NULL-filled rows.


def test_retried_batch_id_overwrites_to_exact_rows(spark, tmp_path):
    # A retried micro-batch re-runs the sink with the SAME batch id and
    # possibly different partitioning: its directory and manifest are
    # overwritten, so the read-back holds that batch once.
    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        _commit_batch,
        _read_committed,
    )

    out = str(tmp_path / "sinkout")
    rows = spark.range(20).selectExpr("id", "id * 2 AS v")
    _commit_batch(rows.repartition(3), 0, out=out, tag_batch=False)
    _commit_batch(rows.repartition(5), 0, out=out, tag_batch=False)  # retry
    _commit_batch(spark.range(20, 25).selectExpr("id", "id * 2 AS v"), 1,
                  out=out, tag_batch=False)
    back = _read_committed(spark, out, "id bigint, v bigint")
    assert sorted(tuple(r) for r in back.collect()) == [
        (i, 2 * i) for i in range(25)
    ]


def test_truncated_data_file_raises(spark, tmp_path):
    # A committed data file cut mid-record must fail the read-back; a
    # PERMISSIVE read would return the broken record as a NULL row.
    import glob
    import os

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        _commit_batch,
        _read_committed,
    )

    out = str(tmp_path / "sinkout")
    _commit_batch(
        spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s").coalesce(1),
        0, out=out, tag_batch=False,
    )
    [part] = glob.glob(f"{out}/data/0/part-*.json")
    with open(part, "rb") as fh:
        data = fh.read()
    with open(part, "wb") as fh:
        fh.write(data[: len(data) - 7])  # cut inside the last record
    # Object stores keep no .crc sidecars: the parse mode alone must
    # catch the damage, not the local filesystem's checksum.
    for crc in glob.glob(f"{out}/data/0/.*.crc"):
        os.remove(crc)
    with pytest.raises(Exception, match="(?i)malformed"):
        _read_committed(spark, out, "id bigint, s string").collect()


def test_manifest_listing_missing_dir_raises(spark, tmp_path):
    # A manifest naming a batch directory that is gone (lost or
    # vacuumed data) must fail, not read as an empty batch.
    import shutil

    from kafka_streams_aggregate_spark.sources.eventlog_source import (
        _commit_batch,
        _read_committed,
    )

    out = str(tmp_path / "sinkout")
    for bid in (0, 1):
        _commit_batch(spark.range(bid * 5, bid * 5 + 5), bid, out=out,
                      tag_batch=False)
    shutil.rmtree(f"{out}/data/1")
    with pytest.raises(Exception, match="(?i)path does not exist|PATH_NOT_FOUND"):
        _read_committed(spark, out, "id bigint").collect()


def test_drain_timeout_raises(spark, tmp_path):
    # A drain still running at its deadline raises TimeoutError (and
    # stops the query) instead of reading a partial manifest set.
    import time

    from kafka_streams_aggregate_spark.sources.eventlog_source import drain

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    spark.range(2).coalesce(1).write.parquet(src)
    nap = F.udf(lambda i: time.sleep(3) or i, "long")
    slow = spark.readStream.schema("id long").parquet(src).select(
        nap("id").alias("id")
    )
    start = time.time()
    with pytest.raises(TimeoutError, match="still running"):
        drain(slow, str(tmp_path / "w"), "id bigint", timeout=1)
    assert time.time() - start < 60
    assert not any(q.isActive for q in spark.streams.active)


def test_dynamic_partition_overwrite_touches_only_written_partitions(
    spark, tmp_path
):
    """INSERT OVERWRITE semantics per partition: with
    partitionOverwriteMode=dynamic, an overwrite write replaces ONLY
    the partitions present in the incoming data — static mode (the
    default) would wipe the whole table first. The lakehouse
    partial-refresh contract (backfill one day without touching the
    rest)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "events_by_type")
    full = load_table(spark, "events", SF).select("event_id", "event_type")
    full.write.partitionBy("event_type").parquet(out)
    before = spark.read.parquet(out).count()
    n_click = full.filter("event_type = 'click'").count()

    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "dynamic")
        # Rewrite ONLY the click partition, halved.
        (
            full.filter("event_type = 'click'")
            .filter(F.col("event_id") % 2 == 0)
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(out)
        )
        after = spark.read.parquet(out)
        n_click_even = full.filter(
            "event_type = 'click' AND event_id % 2 = 0"
        ).count()
        # Other partitions intact; click replaced with the half set.
        assert after.count() == before - n_click + n_click_even
        assert (
            after.filter("event_type = 'purchase'").count()
            == full.filter("event_type = 'purchase'").count()
        )
        assert after.filter("event_type = 'click'").count() == n_click_even
    finally:
        spark.conf.set(conf, prev)
