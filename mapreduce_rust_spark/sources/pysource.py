"""Custom connector via the Python Data Source API (Spark 4).

The reference's input layer is a hand-rolled file scan handed to map
tasks by a coordinator (``worker.rs:109-115``, ``coordinator.rs:38-50``
— file list → round-robin splits → per-task reads). Spark's native
equivalent of "teach the engine a new input" is a DataSource
implementation: the engine asks the source for its partitions and
schedules one task per partition, which is exactly the coordinator's
slice() job, done by the framework.

``DeterministicRangeSource`` is a minimal but complete reader:
partition planning (``partitions()`` → one task per shard, the
round-robin split made declarative), per-partition iteration, and a
fixed schema. Values are pure integer arithmetic so the same relation
is reproducible in any engine — the DuckDB oracle rebuilds it with
``generate_series`` and must hash-match, proving the connector
contract (not just "it runs").

At scale: a production source (database table, message queue, custom
format) implements the same two methods; Spark handles scheduling,
retries, and locality. A partition here = one independently fetchable
shard, so parallelism is the source's shard count — the knob the
reference hardcoded as ``n_map``.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mapreduce_rust_spark.session import scoped_confs, scratch_dir, state_partitions

ORACLE: dict[str, str] = {}

N_ROWS = 4096
N_PARTS = 8
DRAIN_TIMEOUT_S = 120.0


def drain(query: StreamingQuery, done: Callable[[], bool]) -> None:
    """Poll ``done()`` every 50 ms while a continuous-trigger stream
    runs, then stop the stream. Raises ``TimeoutError`` if the stream
    dies (chaining its exception) or ``DRAIN_TIMEOUT_S`` passes first,
    so a caller never reads a partially drained sink."""
    try:
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while not done():
            if not query.isActive or time.monotonic() > deadline:
                raise TimeoutError(
                    f"stream {query.name or query.id} not drained within "
                    f"{DRAIN_TIMEOUT_S} s (active: {query.isActive})"
                ) from query.exception()
            time.sleep(0.05)
    finally:
        query.stop()
    query.awaitTermination(30)


def _register_source(spark: SparkSession) -> None:
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _RangePartition(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class _RangeReader(DataSourceReader):
        def partitions(self):
            step = N_ROWS // N_PARTS
            return [
                # last shard absorbs the remainder so every row is
                # emitted even when the constants stop dividing evenly
                _RangePartition(
                    i * step, (i + 1) * step if i < N_PARTS - 1 else N_ROWS
                )
                for i in range(N_PARTS)
            ]

        def read(self, partition):
            # One Arrow RecordBatch per partition instead of per-row
            # tuples: the engine ingests the batch zero-copy and skips
            # per-row pickling — the same row-vs-Arrow gap as UDFs
            # (measured ~6× on this source). Values are pure integer
            # math — engine-independent, seed-free.
            import pyarrow as pa

            ids = list(range(partition.start, partition.end))
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array([i % 16 for i in ids], pa.int64()),
                    pa.array([(i * i) % 9973 for i in ids], pa.int64()),
                ],
                names=["id", "bucket", "val"],
            )

    class DeterministicRangeSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_range"

        def schema(self) -> str:
            return "id bigint, bucket bigint, val bigint"

        def reader(self, schema):
            return _RangeReader()

    # re-registration under the same name is an overwrite, so this is
    # idempotent across queries in one session
    spark.dataSource.register(DeterministicRangeSource)


def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the custom source and aggregate per bucket — the scan runs
    as N_PARTS parallel tasks (one per InputPartition), then one small
    16-key shuffle."""
    _register_source(spark)
    df = spark.read.format("mrs_range").load()
    return (
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("sum_id"),
            F.sum("val").alias("sum_val"),
        )
        .orderBy("bucket")
    )


ORACLE["source_python_datasource"] = f"""
WITH src AS (
  SELECT i AS id, i % 16 AS bucket, (i * i) % 9973 AS val
  FROM generate_series(0, {N_ROWS - 1}) AS g(i)
)
SELECT bucket, count(*) AS n,
       CAST(sum(id) AS BIGINT) AS sum_id,
       CAST(sum(val) AS BIGINT) AS sum_val
FROM src GROUP BY bucket ORDER BY bucket
"""


PUSHDOWN_THRESH = 3000


def _register_pushdown_source(spark: SparkSession) -> None:
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class _Part(InputPartition):
        def __init__(self, start: int, end: int) -> None:
            self.start, self.end = start, end

    class _PushdownReader(DataSourceReader):
        """Filter-pushdown-capable reader (Spark 4.1 ``pushFilters``):
        absorbs ``id >= v`` / ``id > v`` (and the planner's implicit
        IsNotNull), PRUNES whole partitions below the bound at
        planning time, and slices the survivor shard — the Python-
        connector analogue of parquet row-group skipping. Absorbed
        filters are the source's obligation (Spark does NOT re-apply
        them), so the emitted ``scan_lo`` column — the effective
        bound the reader actually honored — makes the contract
        value-checkable: if the engine ever stopped offering the
        filter, scan_lo would read 0 and extra rows would appear,
        and the DuckDB oracle would hash-mismatch."""

        def __init__(self) -> None:
            self._lo = 0

        def pushFilters(self, filters):
            for f in filters:
                name = type(f).__name__
                col = getattr(f, "attribute", None)
                if name == "IsNotNull" and col == ("id",):
                    continue  # generator never emits nulls
                if name == "GreaterThanOrEqual" and col == ("id",):
                    self._lo = max(self._lo, f.value)
                elif name == "GreaterThan" and col == ("id",):
                    self._lo = max(self._lo, f.value + 1)
                else:
                    yield f  # unsupported → engine applies it

        def partitions(self):
            step = N_ROWS // N_PARTS
            shards = [
                _Part(i * step, (i + 1) * step if i < N_PARTS - 1 else N_ROWS)
                for i in range(N_PARTS)
            ]
            # planning-time pruning: shards entirely below the bound
            # never become tasks
            return [s for s in shards if s.end > self._lo]

        def read(self, partition):
            import pyarrow as pa

            lo = self._lo
            ids = list(range(max(partition.start, lo), partition.end))
            yield pa.record_batch(
                [
                    pa.array(ids, pa.int64()),
                    pa.array([i % 16 for i in ids], pa.int64()),
                    pa.array([(i * i) % 9973 for i in ids], pa.int64()),
                    pa.array([lo] * len(ids), pa.int64()),
                ],
                names=["id", "bucket", "val", "scan_lo"],
            )

    class PushdownRangeSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_range_pushdown"

        def schema(self) -> str:
            return "id bigint, bucket bigint, val bigint, scan_lo bigint"

        def reader(self, schema):
            return _PushdownReader()

    spark.dataSource.register(PushdownRangeSource)


def source_python_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown through a PYTHON data source: the query's
    ``id >= {thresh}`` reaches the connector's ``pushFilters``, which
    prunes shards at planning time and slices the boundary shard —
    scan cost tracks the selected range, not the table. ``scan_lo``
    (min'd per group) certifies the absorbed bound end-to-end; see
    ``_PushdownReader`` for why a silent pushdown regression cannot
    pass the oracle."""
    _register_pushdown_source(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    df = (
        spark.read.format("mrs_range_pushdown")
        .load()
        .filter(F.col("id") >= PUSHDOWN_THRESH)
    )
    return (
        df.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("sum_id"),
            F.sum("val").alias("sum_val"),
            F.min("scan_lo").alias("scan_lo"),
        )
        .orderBy("bucket")
    )


source_python_pushdown.__doc__ = source_python_pushdown.__doc__.format(
    thresh=PUSHDOWN_THRESH
)


ORACLE["source_python_pushdown"] = f"""
WITH src AS (
  SELECT i AS id, i % 16 AS bucket, (i * i) % 9973 AS val
  FROM generate_series({PUSHDOWN_THRESH}, {N_ROWS - 1}) AS g(i)
)
SELECT bucket, count(*) AS n,
       CAST(sum(id) AS BIGINT) AS sum_id,
       CAST(sum(val) AS BIGINT) AS sum_val,
       {PUSHDOWN_THRESH}::BIGINT AS scan_lo
FROM src GROUP BY bucket ORDER BY bucket
"""


def _register_sink(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    class _Msg(WriterCommitMessage):
        def __init__(self, path: str) -> None:
            self.path = path

    class _JsonDirWriter(DataSourceWriter):
        """Partition-parallel JSON-lines writer with the two-phase
        commit the reference's sink lacked entirely (worker.rs:199-208
        writes final files directly — a crashed worker leaves partial
        output): tasks write temp files and return them as commit
        messages; only the driver-side commit() renames them into
        place, so readers never observe a half-written part. On a
        cluster the path must be shared storage (same contract as the
        reference's ./intermediate dirs, coordinator.rs:146-149)."""

        def __init__(self, options) -> None:
            self.path = options.get("path")

        def write(self, iterator):
            import json as _json
            import os as _os
            import uuid as _uuid

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            _os.makedirs(self.path, exist_ok=True)
            tmp = _os.path.join(
                self.path, f"_tmp-{pid}-{_uuid.uuid4().hex}.jsonl"
            )
            with open(tmp, "w") as fh:
                for row in iterator:
                    fh.write(_json.dumps(row.asDict(), sort_keys=True) + "\n")
            return _Msg(tmp)

        def commit(self, messages):
            import os as _os

            for i, m in enumerate(messages):
                _os.replace(
                    m.path,
                    _os.path.join(
                        _os.path.dirname(m.path), f"part-{i:05d}.jsonl"
                    ),
                )

        def abort(self, messages):
            import os as _os

            for m in messages:
                try:
                    _os.remove(m.path)
                except OSError:
                    pass

    class JsonDirSink(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_jsonsink"

        def writer(self, schema, overwrite):
            return _JsonDirWriter(self.options)

    spark.dataSource.register(JsonDirSink)


def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip through the custom Python WRITER: aggregate the
    range source, write JSON-lines parts via the two-phase-commit
    sink, read the committed files back. The returned frame is the
    read-back — so the oracle match proves the writer's contract
    (partition fan-out, commit rename, faithful values), not just
    that save() returned."""
    _register_source(spark)
    _register_sink(spark)
    agg = (
        spark.read.format("mrs_range")
        .load()
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("sum_id"),
            F.sum("val").alias("sum_val"),
        )
    )
    out = scratch_dir(prefix="mrs_pysink_")
    agg.write.format("mrs_jsonsink").option("path", out).mode("append").save()
    return (
        spark.read.schema("bucket bigint, n bigint, sum_id bigint, sum_val bigint")
        .json(out)
        .orderBy("bucket")
    )


ORACLE["sink_python_datasource"] = ORACLE["source_python_datasource"]


def _register_stream_source(spark: SparkSession) -> None:
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _RangeStreamReader(SimpleDataSourceStreamReader):
        """Offset-tracked micro-batch reader over the deterministic
        range: each ``read`` advances the offset by N_ROWS // 4, so the
        4096-row relation arrives as 4 replayable micro-batches.
        ``readBetweenOffsets`` regenerates any [start, end) slice —
        the exactly-once recovery contract (a restarted query replays
        from the last committed offset and must see identical rows,
        which pure integer arithmetic guarantees)."""

        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            pos = start["pos"]
            if pos >= N_ROWS:
                return iter([]), {"pos": pos}
            # 4 micro-batches: enough to exercise offset tracking and
            # multi-batch state accumulation, while each bounded-replay
            # micro-batch costs python-worker round-trip + state-store
            # commit machinery regardless of volume (measured warm:
            # 8 batches -> 7.3 s, 4 -> 5.8 s at bench scale)
            end = min(pos + N_ROWS // 4, N_ROWS)
            return self._rows(pos, end), {"pos": end}

        def readBetweenOffsets(self, start, end):
            return self._rows(start["pos"], end["pos"])

        @staticmethod
        def _rows(a: int, b: int):
            return iter([(i, i % 16, (i * i) % 9973) for i in range(a, b)])

    class DeterministicRangeStream(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_range_stream"

        def schema(self) -> str:
            return "id bigint, bucket bigint, val bigint"

        def simpleStreamReader(self, schema):
            return _RangeStreamReader()

    spark.dataSource.register(DeterministicRangeStream)


def _register_partitioned_stream_source(spark: SparkSession) -> None:
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _RangeSplit(InputPartition):
        def __init__(self, a: int, b: int):
            self.a, self.b = a, b

    class _PartitionedRangeStreamReader(DataSourceStreamReader):
        """Full ``DataSourceStreamReader`` — the SCALE path a
        ``SimpleDataSourceStreamReader`` (driver-side, single-threaded
        ``read``) cannot take: ``latestOffset`` reports what the
        source actually has available, and ``partitions`` splits each
        [start, end) offset range into 8 independent splits that
        Spark schedules as PARALLEL tasks on executors. Offsets are
        pure integer arithmetic, so any split replays identically —
        the same exactly-once recovery contract as the simple reader,
        now with executor-parallel ingestion."""

        def initialOffset(self) -> dict:
            return {"pos": 0}

        def latestOffset(self) -> dict:
            # Report FULL availability. The earlier build paced this
            # (+N_ROWS/2 per poll from a per-instance cursor) to force
            # two micro-batches — unsound across checkpoint restarts:
            # a fresh instance's cursor restarts at 0, and if every
            # batch was already committed, Spark logs the REGRESSED
            # end offset, then the next poll re-plans the committed
            # range and the sink appends duplicates (observed: 6144
            # rows of 4096). A reader has no API to learn the
            # committed position before its first latestOffset, so
            # any artificial pacing can regress; a real source is
            # monotone by construction because it reports actual data
            # availability — this one's data is all available at t=0.
            return {"pos": N_ROWS}

        def partitions(self, start: dict, end: dict):
            # max(a, b) guard: even if a planner handed us a regressed
            # end offset (e.g. an old checkpoint's log), never produce
            # a backwards range.
            a, b = start["pos"], max(start["pos"], end["pos"])
            step = max(1, (b - a) // 8)
            edges = list(range(a, b, step)) + [b]
            return [_RangeSplit(x, y) for x, y in zip(edges, edges[1:])]

        def read(self, partition):
            for i in range(partition.a, partition.b):
                yield (i, i % 16, (i * i) % 9973)

    class PartitionedRangeStream(DataSource):
        @classmethod
        def name(cls) -> str:
            return "mrs_range_pstream"

        def schema(self) -> str:
            return "id bigint, bucket bigint, val bigint"

        def streamReader(self, schema):
            return _PartitionedRangeStreamReader()

    spark.dataSource.register(PartitionedRangeStream)


def _drain_bucket_agg(spark: SparkSession, fmt: str, name: str) -> DataFrame:
    """The per-bucket aggregation over the ``fmt`` stream into a
    complete-mode memory sink ``name``, drained until it has counted
    all N_ROWS rows."""
    sdf = spark.readStream.format(fmt).load()
    agg = sdf.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("sum_id"),
        F.sum("val").alias("sum_val"),
    )
    count_sql = f"SELECT coalesce(sum(n), 0) AS c FROM {name}"
    with scoped_confs(spark, {"spark.sql.shuffle.partitions": state_partitions(spark)}):
        query = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .option("checkpointLocation", scratch_dir(prefix=f"{name}_ckpt_"))
            .start()
        )
        drain(query, lambda: spark.sql(count_sql).collect()[0]["c"] >= N_ROWS)
    return spark.table(name).orderBy("bucket")


def source_python_stream_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same relation and drain protocol as ``source_python_stream``,
    ingested through the PARTITIONED stream reader: one micro-batch ×
    8 executor-parallel splits. Hash-equality against the batch
    oracle proves no split was dropped, duplicated, or mis-ranged —
    the partition-planning contract, on top of exactly-once."""
    _register_partitioned_stream_source(spark)
    return _drain_bucket_agg(spark, "mrs_range_pstream", "mrs_pstream_sink")


ORACLE["source_python_stream_partitioned"] = ORACLE["source_python_datasource"]


def source_python_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingestion through a custom Python Data Source: the
    same deterministic relation as ``source_python_datasource``, but
    arriving as 4 offset-tracked micro-batches through a
    ``SimpleDataSourceStreamReader`` into a complete-mode streaming
    aggregation. The oracle is the identical batch SQL — hash-equality
    proves the streaming connector delivered exactly-once semantics
    end-to-end (no dropped or duplicated batch), not just that the
    query ran. availableNow drains only one read() for simple stream
    readers, so the run uses a continuous trigger with a bounded
    drain: poll the sink until all rows are absorbed, then stop."""
    _register_stream_source(spark)
    return _drain_bucket_agg(spark, "mrs_range_stream", "mrs_pystream_sink")


ORACLE["source_python_stream"] = ORACLE["source_python_datasource"]


QUERIES = {
    "source_python_datasource": source_python_datasource,
    "source_python_pushdown": source_python_pushdown,
    "sink_python_datasource": sink_python_datasource,
    "source_python_stream": source_python_stream,
    "source_python_stream_partitioned": source_python_stream_partitioned,
}
