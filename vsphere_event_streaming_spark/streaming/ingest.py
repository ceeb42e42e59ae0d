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
  own max(offset), re-read at batch time — never from driver memory;
- at-least-once replay overlap (reference README.md:211-216: restart
  re-reads now−5m) is deduplicated by dropping keys ≤ the sink's
  max(key): source keys are monotonic, so this is exact (T5/T7).

The sink is an append-only parquet directory = the engine's memlog.
A 100 TB deployment would partition it by offset range / date and
compact with the retention job; nothing in the logic changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..log.model import assign_offsets

LOG_SCHEMA_DDL = "offset bigint, key bigint, value string"


def envelope_batch(batch: DataFrame, source: str) -> DataFrame:
    """Poll-page rows → (key, value) CloudEvent JSON records.

    The transform chain of the reference collector (GetDetails
    classification → ToCloudEvent → json.Marshal, main.go:127-134) as
    column expressions; serialize-once, the sink stores the bytes.
    """
    from ..operators.envelope import event_class, type_name

    return batch.select(
        F.col("key"),
        F.to_json(
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
        ).alias("value"),
    )


def read_sink(spark: SparkSession, log_dir: str) -> DataFrame | None:
    """The sink as a log DataFrame, or None when it does not exist yet.

    The one reader of the sink's own state (offset seeding here, the
    watch start in ``watch``). Only a genuinely missing sink path maps
    to None (first run ever). Any OTHER read failure propagates:
    treating a transient error as 'empty sink' would silently re-seed
    offsets over existing data, or turn a tail-from-now watch into a
    full-history replay that skips the purged-start check — worse than
    a crashed batch, which checkpoint recovery simply retries.
    """
    from pyspark.errors import AnalysisException

    try:
        return spark.read.schema(LOG_SCHEMA_DDL).parquet(log_dir)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc):
            return None
        raise


def append_log_batch(
    batch: DataFrame,
    batch_id: int,
    log_dir: str,
    source: str,
    state: dict | None = None,
    segment_size: int | None = None,
    max_record_size: int | None = None,
) -> None:
    """foreachBatch body: envelope, dedup against sink, assign offsets,
    append.

    ``max_record_size`` enforces memlog's record-size ceiling
    (LOG_MAX_RECORD_SIZE_BYTES, default 524288 — server.go:46): an
    oversized enveloped record raises ``RecordTooLargeError`` and
    fails the batch, matching the reference where a write error aborts
    the collector loop (main.go:140-143). The check is one cheap
    limit(1) probe over the page-sized batch, before anything is
    appended — a failed batch writes nothing.

    ``state`` carries (max_offset, max_key) across batches of one run,
    lazily seeded from the sink on the first batch — the reference's
    ``once.Do`` log init (main.go:116-125). Without it every batch
    would re-scan the sink for its max, an O(batches × log) pattern
    that collapses at scale; with it the sink is read once per run
    (and after a crash the next run re-seeds from the sink, which is
    what makes the offsets exactly-once).
    """
    spark = batch.sparkSession
    if state is None:
        state = {}
    # keyless records are rejected up front: the reference's vSphere
    # event Key is non-null by protocol (main.go:113); a NULL key would
    # crash first-batch seeding and silently bypass the replay dedup
    records = envelope_batch(
        batch.filter(F.col("key").isNotNull()), source
    )
    if max_record_size is not None:
        too_big = records.filter(
            F.octet_length("value") > max_record_size
        ).limit(1)
        bad = too_big.collect()
        if bad:
            from ..errors import RecordTooLargeError

            raise RecordTooLargeError(
                f"record for key {bad[0]['key']} exceeds "
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

    fresh = records
    if "max_key" in state:
        # replay-overlap dedup: keys are monotonic (T5), drop re-reads
        fresh = records.filter(F.col("key") > F.lit(state["max_key"]))
    stats = fresh.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("key").alias("lo"),
        F.max("key").alias("hi"),
    ).first()
    if not stats["n"]:
        return
    # continue the sink's offsets; the first batch ever seeds them from
    # the first event key
    if "max_offset" in state:
        start = state["max_offset"] + 1
    else:
        start = int(stats["lo"])
    n, hi = int(stats["n"]), int(stats["hi"])

    seeded = assign_offsets(
        fresh, order_by=["key"], start=start, offset_col="offset"
    )
    out = seeded.select("offset", "key", "value")
    if segment_size is not None:
        # memlog-segment layout (README.md:177-184): partition the sink
        # by offset segment so (a) offset-bounded reads prune whole
        # directories and (b) retention purge = drop the oldest segment
        # dirs — no rewrite, exactly the reference's 2-segment ring at
        # file-system granularity
        out = out.withColumn(
            "segment", (F.col("offset") / segment_size).cast("bigint")
        )
        out.write.mode("append").partitionBy("segment").parquet(log_dir)
    else:
        out.write.mode("append").parquet(log_dir)
    state["max_offset"] = start + n - 1
    state["max_key"] = hi


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
    ``append_log_batch``).
    """
    run_state: dict = {}  # per-run offset continuation (see append_log_batch)
    writer = source_stream.writeStream.foreachBatch(
        lambda b, i: append_log_batch(
            b, i, log_dir, source, run_state, segment_size, max_record_size
        )
    ).option("checkpointLocation", os.path.join(checkpoint_dir, "ingest"))
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
