"""Streaming ingest: poll source → envelope → offset-assigning sink (S2).

Mirrors the reference's collector loop (main.go:86-152): each
micro-batch (= poll page) is classified, enveloped, JSON-encoded, then
appended to the log with monotonically continuing offsets.

Offset continuity across restarts is the hard part (SURVEY §7 M3): the
reference seeds the log once from the first event Key (``once.Do``,
main.go:116-125) and memlog assigns the rest. Here the sink owns the
rule:

- first batch ever → start offset = min(key) of the batch (the
  reference's first-Key seed);
- every later batch (incl. after restart) → continue from the sink's
  own max(offset), read from the sink on a run's first batch — never
  carried over from an earlier process;
- at-least-once replay overlap (reference README.md:211-216: restart
  re-reads now−5m) is deduplicated by dropping keys ≤ the sink's
  max(key): source keys are monotonic, so this is exact (T5/T7).

A batch appends only after its checks pass, and a replayed batch
appends nothing twice (the foreachBatch contract of Structured
Streaming). A micro-batch is one poll page (≤ 50 events), so the sink
works on the driver: one collect of at most ``DRIVER_BATCH_ROWS`` + 1
records (the batch's one Spark job), the checks, the dedup, the sort
and the numbering in Python, and one ``pyarrow.parquet`` write per
touched directory. Each file is written under a hidden ``.``-prefixed
name, which Spark's file index and ``pyarrow.dataset`` skip, and
renamed to its final name: the renames are the commit. A batch over
``DRIVER_BATCH_ROWS`` rows raises ``BatchTooLargeError`` before
anything is appended.

The sink is an append-only parquet directory = the engine's memlog.
It is written through the local file system, so it must be a local
path or a ``file:`` URI; any other scheme raises ``ValueError`` before
a stream starts or anything is written.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import uuid
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..errors import BatchTooLargeError, RecordTooLargeError

log = logging.getLogger(__name__)

LOG_SCHEMA_DDL = "offset bigint, key bigint, value string"

#: Largest batch the sink appends. A poll page holds at most 50 events;
#: the cap is the reference's own in-memory ring, 2 ×
#: LOG_MAX_SEGMENT_SIZE = 2,000 records, so the driver never holds more
#: records than memlog does. Measured on 4 cores (local[4], warm
#: continuing batches of ~300-byte envelopes, segment_size=1000, the
#: projection built once, median of 3), an append took 0.16 s at 50
#: rows, 0.20 s at 1,000 and 0.17 s at 2,000, nearly all of it the
#: collect: the driver's parquet write and rename take ~1 ms.
DRIVER_BATCH_ROWS = 2000

# The one definition of a sink file's footer: the Arrow schema it is
# written with and the Spark row metadata Spark's own parquet writer
# stores. ``offset`` is non-null, so the footer says ``required int64
# offset`` as in sinks written by ``assign_offsets``, and Spark reads
# every sink file as one schema.
_SINK_ROW = StructType([
    StructField("offset", LongType(), nullable=False),
    StructField("key", LongType()),
    StructField("value", StringType()),
])
_SINK_SCHEMA = to_arrow_schema(_SINK_ROW).with_metadata({
    "org.apache.spark.sql.parquet.row.metadata": json.dumps(
        _SINK_ROW.jsonValue(), separators=(",", ":")
    ),
    "org.apache.spark.version": pyspark.__version__,
})


def sink_dir(log_dir: str) -> str:
    """The sink's local directory for a local path or a ``file:`` URI.

    The sink is written through the local file system, so any other
    scheme (``hdfs://``, ``s3a://``) raises ``ValueError``.
    """
    url = urlparse(log_dir)
    if url.scheme == "file" and url.netloc in ("", "localhost"):
        return unquote(url.path)
    if url.scheme:
        raise ValueError(
            f"the ingest sink must be a local directory or a file: URI, "
            f"not {log_dir!r}"
        )
    return log_dir


def _envelope(source: str) -> Column:
    """A poll-page row's CloudEvent JSON: the transform chain of the
    reference collector (GetDetails classification → ToCloudEvent →
    json.Marshal, main.go:127-134) as one column expression;
    serialize-once, the sink stores the bytes."""
    from ..operators.envelope import event_class, type_name

    return F.to_json(
        F.struct(
            F.lit("1.0").alias("specversion"),
            F.col("key").cast("string").alias("id"),
            F.lit(source).alias("source"),
            type_name(F.col("event_type")).alias("type"),
            F.lit("application/json").alias("datacontenttype"),
            F.col("created_time").alias("time"),
            event_class(F.col("event_type")).alias("eventclass"),
            F.struct(
                F.col("key").alias("Key"),
                F.col("created_time").alias("CreatedTime"),
                F.col("user_name").alias("UserName"),
                F.col("message").alias("FullFormattedMessage"),
            ).alias("data"),
        )
    )


def envelope_batch(batch: DataFrame, source: str) -> DataFrame:
    """Poll-page rows → (key, value) CloudEvent JSON records."""
    return batch.select(F.col("key"), _envelope(source).alias("value"))


def record_projection(
    source: str, max_record_size: int | None = None
) -> list[Column]:
    """The columns the sink collects from a poll page: ``key`` and the
    enveloped ``value``.

    With ``max_record_size`` they are ``key``, the value only where its
    UTF-8 byte count is within the ceiling, and that count as ``size``:
    an oversized value stays on the executors, the driver gets its byte
    count and a NULL in its place. ``start_ingest`` builds these
    columns once per run.
    """
    value = _envelope(source)
    if max_record_size is None:
        return [F.col("key"), value.alias("value")]
    size = F.octet_length(value)
    return [
        F.col("key"),
        F.when(size <= max_record_size, value).alias("value"),
        size.alias("size"),
    ]


def read_sink(spark: SparkSession, log_dir: str) -> DataFrame | None:
    """The sink as a log DataFrame, or None when it does not exist yet.

    The one reader of the sink's own state (offset seeding here, the
    watch start in ``watch``). Only a missing sink directory maps to
    None (first run ever), decided before Spark reads anything. Any
    read failure of an existing sink propagates: treating a transient
    error as 'empty sink' would silently re-seed offsets over existing
    data, or turn a tail-from-now watch into a full-history replay that
    skips the purged-start check — worse than a crashed batch, which
    checkpoint recovery simply retries.
    """
    if not os.path.exists(sink_dir(log_dir)):
        return None
    return spark.read.schema(LOG_SCHEMA_DDL).parquet(log_dir)


def _stage(parts: list[tuple[str, pa.Table]]) -> list[tuple[str, str]]:
    """Write each (directory, table) as one parquet file under a hidden
    ``.``-prefixed name; return the (hidden, final) name pairs.

    A failure removes every file it wrote and leaves nothing visible.
    """
    staged = []
    try:
        for directory, table in parts:
            os.makedirs(directory, exist_ok=True)
            name = f"part-{uuid.uuid4()}.c000.snappy.parquet"
            staged.append(
                (os.path.join(directory, "." + name),
                 os.path.join(directory, name))
            )
            pq.write_table(table, staged[-1][0], compression="snappy")
    except BaseException:
        for tmp, _ in staged:
            with contextlib.suppress(OSError):
                os.remove(tmp)
        raise
    return staged


def append_log_batch(
    batch: DataFrame,
    batch_id: int,
    log_dir: str,
    source: str,
    state: dict | None = None,
    segment_size: int | None = None,
    max_record_size: int | None = None,
    projection: list[Column] | None = None,
) -> None:
    """foreachBatch body: envelope, dedup against sink, assign offsets,
    append.

    One collect of at most ``DRIVER_BATCH_ROWS`` + 1 enveloped records
    is the batch's one Spark job; the batch is then numbered and
    written on the driver. A batch over ``DRIVER_BATCH_ROWS`` rows
    raises ``BatchTooLargeError`` and appends nothing. ``projection``
    is ``record_projection(source, max_record_size)``, built once by
    ``start_ingest``; it is built here when not given.

    ``log_dir`` is a local path or a ``file:`` URI (``ValueError``
    otherwise). Each touched directory (``segment=N`` with
    ``segment_size``, else the root) gets one file, written hidden and
    renamed, lowest segment first: a failed write leaves no visible
    file and ``state`` unchanged, and a crash between two renames
    leaves a prefix of the batch that the next run's re-seed from the
    sink's max(key) completes densely.

    ``max_record_size`` enforces memlog's record-size ceiling
    (LOG_MAX_RECORD_SIZE_BYTES, default 524288 — server.go:46) on the
    UTF-8 bytes of each enveloped record: an oversized record raises
    ``RecordTooLargeError`` and fails the batch, matching the reference
    where a write error aborts the collector loop (main.go:140-143).
    The bytes are counted on the executors and an oversized value never
    reaches the driver, so the driver holds at most
    (``DRIVER_BATCH_ROWS`` + 1) × ``max_record_size`` bytes of values.
    The checks run before anything is appended — a failed batch writes
    nothing.

    ``state`` carries (max_offset, max_key) across batches of one run,
    lazily seeded from the sink on the first batch — the reference's
    ``once.Do`` log init (main.go:116-125). Without it every batch
    would re-scan the sink for its max, an O(batches × log) pattern
    that collapses at scale; with it the sink is read once per run
    (and after a crash the next run re-seeds from the sink, which is
    what makes the offsets exactly-once).
    """
    root = sink_dir(log_dir)
    spark = batch.sparkSession
    if state is None:
        state = {}
    if projection is None:
        projection = record_projection(source, max_record_size)
    # keyless records are rejected up front: the reference's vSphere
    # event Key is non-null by protocol (main.go:113); a NULL key would
    # crash first-batch seeding and silently bypass the replay dedup.
    # coalesce(1): one task reads partitions in turn and stops after
    # DRIVER_BATCH_ROWS + 1 rows, so the collect is one job
    rows = (
        batch.where(F.col("key").isNotNull())
        .select(*projection)
        .coalesce(1)
        .limit(DRIVER_BATCH_ROWS + 1)
        .collect()
    )
    if len(rows) > DRIVER_BATCH_ROWS:
        raise BatchTooLargeError(
            f"batch {batch_id} holds more than DRIVER_BATCH_ROWS="
            f"{DRIVER_BATCH_ROWS} records; the sink appends poll pages"
        )
    if max_record_size is not None:
        for r in rows:
            if r["size"] > max_record_size:
                log.warning(
                    "batch %s: record for key %s exceeds max_record_size=%d "
                    "bytes; nothing appended", batch_id, r["key"],
                    max_record_size,
                )
                raise RecordTooLargeError(
                    f"record for key {r['key']} exceeds "
                    f"max_record_size={max_record_size} bytes"
                )
    if "max_offset" not in state:
        sink = read_sink(spark, log_dir)
        if sink is not None:
            row = sink.agg(
                F.max("offset").alias("mo"), F.max("key").alias("mk")
            ).first()
            if row["mo"] is not None:
                state.update(max_offset=int(row["mo"]), max_key=int(row["mk"]))

    # replay-overlap dedup: keys are monotonic (T5), drop re-reads
    max_key = state.get("max_key")
    fresh = sorted(
        (r for r in rows if max_key is None or r["key"] > max_key),
        key=lambda r: r["key"],
    )
    # continue the sink's offsets; the first batch ever seeds them from
    # the first event key
    if "max_offset" in state:
        start = state["max_offset"] + 1
    else:
        start = fresh[0]["key"] if fresh else None
    log.debug(
        "batch %s: rows=%d overlap_dropped=%d start=%s",
        batch_id, len(rows), len(rows) - len(fresh), start,
    )
    if not fresh:
        return
    end = start + len(fresh)
    table = pa.Table.from_arrays(
        [
            pa.array(range(start, end), pa.int64()),
            pa.array([r["key"] for r in fresh], pa.int64()),
            pa.array([r["value"] for r in fresh], pa.string()),
        ],
        schema=_SINK_SCHEMA,
    )
    if segment_size is None:
        parts = [(root, table)]
    else:
        # memlog-segment layout (README.md:177-184): partition the sink
        # by offset segment so (a) offset-bounded reads prune whole
        # directories and (b) retention purge = drop the oldest segment
        # dirs — no rewrite, exactly the reference's 2-segment ring at
        # file-system granularity
        parts = []
        for seg in range(start // segment_size, (end - 1) // segment_size + 1):
            lo = max(start, seg * segment_size)
            hi = min(end, (seg + 1) * segment_size)
            parts.append((
                os.path.join(root, f"segment={seg}"),
                table.slice(lo - start, hi - lo),
            ))
    staged = _stage(parts)
    # the renames are the commit, lowest segment first; from the first
    # one on the sink may hold part of this batch, so until the last
    # the state is empty and a failure leaves the sink to re-seed it
    state.clear()
    for tmp, final in staged:
        os.replace(tmp, final)
    state.update(max_offset=end - 1, max_key=fresh[-1]["key"])


def start_ingest(
    spark: SparkSession,
    source_stream: DataFrame,
    log_dir: str,
    checkpoint_dir: str,
    source: str = "https://vcenter.example.com/sdk",
    trigger_seconds: float | None = None,
    segment_size: int | None = None,
    max_record_size: int | None = None,
):
    """Run the standing ingest query (reference's collector goroutine).

    ``trigger_seconds=None`` → process-as-available (tests);
    1.0 mirrors the reference's 1 s poll ticker. ``segment_size``
    opts into the segment-partitioned sink layout and
    ``max_record_size`` into memlog's record-size ceiling (see
    ``append_log_batch``). ``log_dir`` must be a local path or a
    ``file:`` URI; any other scheme raises ``ValueError`` before the
    stream starts.
    """
    sink_dir(log_dir)
    run_state: dict = {}  # per-run offset continuation (see append_log_batch)
    projection = record_projection(source, max_record_size)
    writer = source_stream.writeStream.foreachBatch(
        lambda b, i: append_log_batch(
            b, i, log_dir, source, run_state, segment_size, max_record_size,
            projection,
        )
    ).option("checkpointLocation", os.path.join(checkpoint_dir, "ingest"))
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
