"""Custom Python streaming data source: a Kafka-topic stand-in (S1).

The reference's only input is a Kafka topic consumed from offset 0
(`application.yml:3-7`; `KafkaStreamsInventoryCountApplication.java:
67-84`). The sandbox has no broker and no spark-sql-kafka jar, so the
engine's runnable S1 equivalent is this Spark 4 *Python DataSource*
(`pyspark.sql.datasource`): an offset-tracked, partitioned, replayable
event-log source with exactly Kafka's consumer contract —
monotonically increasing offsets, resume-from-checkpoint (Spark
persists the committed offset JSON and calls `partitions(start, end)`
with the recovered range), and parallel partition reads.

Everything is defined inside a factory function so the classes pickle
by value (cloudpickle) — the registered source must deserialize on
executors that do NOT have this repo on sys.path (see the verify-skill
closure rule).

Read path stays Arrow-native: each partition slices the parquet row
range and yields `pyarrow.RecordBatch`es, never per-row Python
objects.

The module also holds the one streaming drain every streaming query
uses: ``workdir`` (scratch directory + scoped session conf),
``stage_file`` (mtime-ordered source files) and ``drain`` (the
batch-id-keyed manifest sink and its FAILFAST read-back).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import tempfile


def make_eventlog_source():
    """Build the EventLogDataSource class (name: ``eventlog``).

    Options:
      path      — parquet file holding the log (driver `events` table)
      step_rows — if set (> 0), each latestOffset poll advances by at
                  most this many rows: micro-batch pacing for
                  processingTime triggers (Kafka's maxOffsetsPerTrigger
                  analog). Unset/0 = report the full log, which is
                  REQUIRED under trigger(availableNow): that trigger
                  polls latestOffset once and processes a single batch,
                  so incremental advancing would silently drop the tail.
      n_parts   — parallel read splits per micro-batch (default 4)
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _RangePart(InputPartition):
        def __init__(self, path: str, start: int, end: int):
            self.path, self.start, self.end = path, start, end

    class _EventLogStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.path = options["path"]
            self.step_rows = int(options.get("step_rows", "0"))
            self.n_parts = int(options.get("n_parts", "4"))
            import pyarrow.parquet as pq

            self.total = pq.ParquetFile(self.path).metadata.num_rows
            self._cur = 0

        # -- offset protocol (Kafka-consumer shaped) ------------------
        def initialOffset(self):
            return {"row": 0}

        def latestOffset(self):
            if self.step_rows > 0:
                self._cur = min(self._cur + self.step_rows, self.total)
            else:
                self._cur = self.total
            return {"row": self._cur}

        def partitions(self, start, end):
            s, e = start["row"], end["row"]
            step = max(1, -(-(e - s) // self.n_parts))
            return [
                _RangePart(self.path, a, min(a + step, e))
                for a in range(s, e, step)
            ]

        def commit(self, end):
            pass  # nothing to clean up: the log is an immutable file

        # -- data path: Arrow batches, never per-row Python -----------
        def read(self, part):
            import pyarrow as pa
            import pyarrow.parquet as pq

            t = pq.read_table(
                part.path,
                columns=["event_id", "ts", "user_id", "event_type", "value"],
            ).slice(part.start, part.end - part.start)
            # Normalize the parquet timestamp to int64 micros, matching
            # the batch loader (sources/tables.py): TIMESTAMP(NANOS)
            # truncates with integer-divide, TIMESTAMP(MICROS) is a
            # value-preserving cast.
            ts = t.column("ts")
            unit = ts.type.unit if pa.types.is_timestamp(ts.type) else "ns"
            scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": 1}[unit]
            ts_us = pa.compute.multiply(ts.cast(pa.int64()), scale)
            if unit == "ns":  # integer-divide truncation, like DuckDB
                ts_us = pa.compute.divide(ts_us, 1000)
            t = pa.table(
                {
                    "event_id": t.column("event_id"),
                    "ts_us": ts_us,
                    "user_id": t.column("user_id"),
                    "event_type": t.column("event_type"),
                    "value": t.column("value"),
                }
            )
            yield from t.to_batches()

    class EventLogDataSource(DataSource):
        @classmethod
        def name(cls):
            return "eventlog"

        def schema(self):
            return (
                "event_id long, ts_us long, user_id long, "
                "event_type string, value double"
            )

        def streamReader(self, schema):
            return _EventLogStreamReader(self.options)

    return EventLogDataSource


def register_eventlog_source(spark) -> None:
    """Idempotently register the ``eventlog`` source on this session."""
    spark.dataSource.register(make_eventlog_source())


def make_eventlog_sink():
    """Build the EventLogSinkDataSource class (name: ``eventlogsink``).

    The reference's S7 is a Kafka producer topic
    (`KafkaStreamsInventoryCountApplication.java:86-93` via Spring
    Cloud Stream bindings); with no broker here, this is the runnable
    sink twin: a streaming writer with the same delivery contract Spark
    gives the Kafka sink — per-partition task writes, a two-phase
    commit where only files recorded in a per-batch manifest count as
    delivered, and abort-path cleanup, so task retries or speculative
    duplicates never surface downstream (manifest readers get
    effectively-once output from an at-least-once task layer).

    Options: path — output directory. Each task atomically publishes
    ``data/<partition>-<uuid>.jsonl``; ``commit`` writes
    ``manifest/<batchId>.json`` listing exactly the files of that
    batch. Readers must consult manifests, never glob data/.
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    class _FileDone(WriterCommitMessage):
        def __init__(self, filename: str, n_rows: int):
            self.filename = filename
            self.n_rows = n_rows

    class _EventLogStreamWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            import json
            import os
            import uuid

            from pyspark import TaskContext

            ctx = TaskContext.get()
            os.makedirs(f"{self.path}/data", exist_ok=True)
            name = f"{ctx.partitionId()}-{uuid.uuid4().hex}.jsonl"
            tmp = f"{self.path}/data/.{name}.tmp"
            n = 0
            with open(tmp, "w") as f:
                for row in iterator:
                    f.write(json.dumps(row.asDict(), default=str) + "\n")
                    n += 1
            final = f"{self.path}/data/{name}"
            os.replace(tmp, final)  # atomic: no partial files visible
            return _FileDone(name, n)

        def commit(self, messages, batchId):
            import json
            import os

            os.makedirs(f"{self.path}/manifest", exist_ok=True)
            files = [
                {"file": m.filename, "rows": m.n_rows}
                for m in messages
                if m is not None
            ]
            tmp = f"{self.path}/manifest/.{batchId}.json.tmp"
            with open(tmp, "w") as f:
                json.dump({"batch": batchId, "files": files}, f)
            os.replace(tmp, f"{self.path}/manifest/{batchId}.json")

        def abort(self, messages, batchId):
            import os

            for m in messages:
                if m is not None:
                    try:
                        os.remove(f"{self.path}/data/{m.filename}")
                    except FileNotFoundError:
                        pass

    class EventLogSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "eventlogsink"

        def streamWriter(self, schema, overwrite):
            return _EventLogStreamWriter(self.options)

    return EventLogSinkDataSource


def register_eventlog_sink(spark) -> None:
    """Idempotently register the ``eventlogsink`` sink on this session."""
    spark.dataSource.register(make_eventlog_sink())


def drain_eventlog_sink(stream_df, work: str, timeout: int = 300) -> str:
    """Drain a bounded (availableNow) streaming frame through the
    ``eventlogsink`` Python sink into ``<work>/sinkout`` (checkpoint
    ``<work>/sinkckpt``, so a second call resumes where the first
    stopped) and return that path for ``read_eventlog_sink``."""
    register_eventlog_sink(stream_df.sparkSession)
    out = f"{work}/sinkout"
    q = (
        stream_df.writeStream.format("eventlogsink")
        .option("path", out)
        .option("checkpointLocation", f"{work}/sinkckpt")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, timeout)
    return out


def read_eventlog_sink(spark, path: str, schema: str):
    """Read back ONLY committed ``eventlogsink`` output (manifest-listed
    files) as a DataFrame of ``schema`` — the consumer-side contract
    check. The sink serializes row values with ``str()``, so every
    column is read as a string and cast to its declared type (the
    string->timestamp/double casts are exact for the ``str()``
    formats); a malformed line raises instead of reading as NULLs."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField, StructType

    files = []
    for mf in sorted(glob.glob(f"{path}/manifest/*.json")):
        with open(mf) as f:
            files.extend(
                f"{path}/data/{e['file']}" for e in json.load(f)["files"]
            )
    if not files:
        return spark.createDataFrame([], schema)
    target = StructType.fromDDL(schema)
    raw = (
        spark.read.schema(
            StructType([StructField(f.name, StringType()) for f in target])
        )
        .option("mode", "FAILFAST")
        .json(files)
    )
    return raw.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in target]
    )


def _await_drained(q, timeout: int) -> None:
    """awaitTermination(timeout) returns False when the query is STILL
    RUNNING at the deadline. Silently proceeding would read a partial
    output (manifest set, state store or progress feed) as complete —
    fail loudly instead."""
    if not q.awaitTermination(timeout):
        try:
            q.stop()
        except Exception:
            pass
        raise TimeoutError(
            f"availableNow drain still running after {timeout}s; "
            "refusing to read a partial output"
        )


# Default conf scoped to a streaming query's work: the stateful-operator
# partition count is pinned at checkpoint creation, and these fresh,
# small-keyed drains don't justify one state store and one Python
# worker per session-default shuffle partition per micro-batch.
STREAM_CONF = {"spark.sql.shuffle.partitions": "8"}


@contextlib.contextmanager
def workdir(spark, sf_dir: str | None = None, conf: dict = STREAM_CONF):
    """A scratch directory for one query, removed on exit, with ``conf``
    set on the (shared) session for the duration and restored after.

    With ``sf_dir`` the driver ``events.parquet`` is copied to
    ``<work>/src/events.parquet``, the stream source directory. Results
    must be materialized (``localCheckpoint(eager=True)``) INSIDE the
    ``with`` block: anything still reading from the directory is gone
    after it."""
    work = tempfile.mkdtemp(prefix="ksa_work_")
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        if sf_dir is not None:
            os.makedirs(f"{work}/src")
            shutil.copy(f"{sf_dir}/events.parquet", f"{work}/src/events.parquet")
        yield work
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        shutil.rmtree(work, ignore_errors=True)


def stage_file(df, work: str, seq: int) -> None:
    """Write ``df`` as one parquet file in ``<work>/src`` whose name and
    mtime are both ordered by ``seq``: a file stream with
    ``maxFilesPerTrigger=1`` then reads the staged files one per
    micro-batch in ``seq`` order — no sleeps between writes."""
    stage = f"{work}/stage/{seq}"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    dst = f"{work}/src/{seq:05d}.parquet"
    os.makedirs(f"{work}/src", exist_ok=True)
    shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], dst)
    t = 1_700_000_000 + 10 * seq
    os.utime(dst, (t, t))


def stage_two_batch(base, work: str, split_col: str, cutoff, schema: str):
    """Stage ``base`` split at ``cutoff`` on ``split_col`` as two files
    (below the cutoff first) and return the stream reading them one
    micro-batch each: per-key order ACROSS batches is the staged order,
    the property cross-batch state carries depend on."""
    stage_file(base.filter(base[split_col] < cutoff), work, 0)
    stage_file(base.filter(base[split_col] >= cutoff), work, 1)
    return (
        base.sparkSession.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{work}/src")
    )


_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"  # the JSON default is millis


def drain(stream_df, work: str, schema: str, key=None, timeout: int = 300):
    """Drain a bounded (availableNow) streaming frame and return ONLY
    its committed rows as a batch DataFrame of ``schema``.

    Every micro-batch is written by a distributed JVM ``write.json``
    into its own directory, then an atomic per-batch manifest names it
    (D-Streams' recipe: output idempotent and keyed by batch id — a
    retried batch overwrites its own directory and manifest, so readers
    see each batch once). The read-back takes exactly the
    manifest-listed directories in one ``spark.read`` with an explicit
    microsecond timestamp format and ``FAILFAST``: a missing directory
    or a malformed file raises, it never reads as NULL-filled rows.

    ``key`` (a column name or a list of them) selects update mode, the
    reference's changelog: the result is then the latest batch's row
    per key (Kafka Streams' update conflation). Without ``key`` the
    query runs in append mode and every committed row is returned.
    The caller materializes the result inside its ``workdir`` block.
    """
    import functools

    out = f"{work}/sinkout"
    q = (
        stream_df.writeStream.foreachBatch(
            functools.partial(_commit_batch, out=out, tag_batch=key is not None)
        )
        .outputMode("append" if key is None else "update")
        .option("checkpointLocation", f"{work}/sinkckpt")
        .trigger(availableNow=True)
        .start()
    )
    _await_drained(q, timeout)
    return _read_committed(stream_df.sparkSession, out, schema, key)


def _commit_batch(batch_df, bid: int, out: str, tag_batch: bool) -> None:
    """``drain``'s foreachBatch sink: write batch ``bid`` into its own
    directory, then publish its manifest atomically. Re-running it for
    the same ``bid`` (a retried batch) overwrites both."""
    from pyspark.sql import functions as F

    data_dir = f"{out}/data/{bid}"
    if tag_batch:
        batch_df = batch_df.withColumn("_batch", F.lit(bid).cast("bigint"))
    batch_df.write.mode("overwrite").option("timestampFormat", _TS_FMT).json(
        data_dir
    )
    os.makedirs(f"{out}/manifest", exist_ok=True)
    tmp = f"{out}/manifest/.{bid}.json.tmp"
    with open(tmp, "w") as fh:
        json.dump({"batch": bid, "dir": data_dir}, fh)
    os.replace(tmp, f"{out}/manifest/{bid}.json")


def _read_committed(spark, out: str, schema: str, key=None):
    """The read-back half of ``drain``: the manifest-listed batch
    directories under ``out``, reduced to the latest batch per ``key``
    when one is given."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    dirs = []
    for mf in sorted(
        glob.glob(f"{out}/manifest/*.json"),
        key=lambda p: int(os.path.basename(p).split(".")[0]),
    ):
        with open(mf) as fh:
            dirs.append(json.load(fh)["dir"])
    if not dirs:
        return spark.createDataFrame([], schema)
    df = (
        spark.read.schema(schema if key is None else f"{schema}, _batch bigint")
        .option("timestampFormat", _TS_FMT)
        .option("mode", "FAILFAST")
        .json(dirs)
    )
    if key is None:
        return df
    keys = [key] if isinstance(key, str) else list(key)
    latest = Window.partitionBy(*keys).orderBy(F.col("_batch").desc())
    return (
        df.withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_batch")
    )
