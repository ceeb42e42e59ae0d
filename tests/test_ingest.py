"""The ingest sink's page-sized append (S2): one bounded collect, the
checks and the numbering on the driver, one parquet write and rename
per touched directory."""

from __future__ import annotations

import datetime as dt
import glob
import json
import logging
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession

from vsphere_event_streaming_spark.errors import (
    BatchTooLargeError,
    RecordTooLargeError,
)
from vsphere_event_streaming_spark.log import EventLogService
from vsphere_event_streaming_spark.sources.poll_source import (
    SCHEMA_DDL,
    _generate_event,
    _generate_page,
)
from vsphere_event_streaming_spark.streaming import ingest
from vsphere_event_streaming_spark.streaming.ingest import (
    append_log_batch,
    envelope_batch,
    read_sink,
    start_ingest,
)

SRC = "test://vc"
NULL_KEY = (None, dt.datetime(2024, 1, 1), "click", "u", "keyless")

# The footer every sink file carries, the same one ``assign_offsets``
# wrote before the driver-side append: a sink written across that
# change holds one schema.
FOOTER = (
    (
        ("offset", "INT64", "None", "required"),
        ("key", "INT64", "None", "optional"),
        ("value", "BYTE_ARRAY", "String", "optional"),
    ),
    b'{"type":"struct","fields":['
    b'{"name":"offset","type":"long","nullable":false,"metadata":{}},'
    b'{"name":"key","type":"long","nullable":true,"metadata":{}},'
    b'{"name":"value","type":"string","nullable":true,"metadata":{}}]}',
)

# case -> ([(batch keys, starts a new run?)], segment_size,
#          the sink's keys, in offset order from its first offset)
CASES = {
    # first batch ever: offsets seeded from the batch's min key
    "first-batch": ([(range(500, 550), False)], None, range(500, 550)),
    # a later batch continues the offsets, whatever its keys
    "continuing": (
        [(range(0, 50), False), (range(70, 120), False)], None,
        [*range(0, 50), *range(70, 120)],
    ),
    # a new run re-seeds from the sink and drops keys 30..59
    "restart-overlap": (
        [(range(0, 60), False), (range(30, 100), True)], None, range(0, 100)
    ),
    "all-overlap": (
        [(range(0, 50), False), (range(10, 40), True)], None, range(0, 50)
    ),
    "null-keys": (
        [(range(0, 20), False), (range(20, 40), False)], None, range(0, 40)
    ),
    "segment-crossing": (
        [(range(0, 30), False), (range(30, 80), False)], 50, range(0, 80)
    ),
}


def _batch(spark, keys, with_nulls=False):
    rows = list(_generate_page(keys.start, keys.stop))
    if with_nulls:
        rows = [NULL_KEY] + rows + [NULL_KEY]
    return spark.createDataFrame(rows, SCHEMA_DDL)


def _files(log_dir):
    """Every file and directory under the sink, with its mtime."""
    if not os.path.exists(log_dir):
        return {}
    return {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{log_dir}/**", recursive=True)
    }


def _sink(log_dir):
    """Sink rows and the distinct parquet footer schemas of its files."""
    import pyarrow.dataset as ds

    table = ds.dataset(log_dir, format="parquet", partitioning="hive")
    rows = sorted(tuple(r.values()) for r in table.to_table().to_pylist())
    schemas = set()
    for f in glob.glob(f"{log_dir}/**/*.parquet", recursive=True):
        footer = pq.ParquetFile(f).schema
        columns = tuple(
            (c.name, c.physical_type, str(c.logical_type),
             "required" if c.max_definition_level == 0 else "optional")
            for c in map(footer.column, range(len(footer.names)))
        )
        spark_schema = pq.read_schema(f).metadata[
            b"org.apache.spark.sql.parquet.row.metadata"
        ]
        schemas.add((columns, spark_schema))
    return rows, schemas


@pytest.mark.parametrize("case", sorted(CASES))
def test_page_sized_batches_write_dense_offsets(spark, tmp_path, case):
    batches, segment_size, keys = CASES[case]
    log_dir = f"{tmp_path}/log"
    state: dict = {}
    before: dict = {}
    for i, (batch_keys, restart) in enumerate(batches):
        if restart:
            state = {}
        before = _files(log_dir)
        append_log_batch(
            _batch(spark, batch_keys, with_nulls=case == "null-keys"), i,
            log_dir, SRC, state, segment_size, 524288,
        )
    after = _files(log_dir)
    if case == "all-overlap":
        assert after == before  # nothing written, no directory touched

    rows, schemas = _sink(log_dir)
    first = keys[0]  # every case's first batch seeds from its first key
    assert [(r[0], r[1]) for r in rows] == [
        (first + i, k) for i, k in enumerate(keys)
    ]
    assert all(json.loads(r[2])["id"] == str(r[1]) for r in rows)
    assert schemas == {FOOTER}
    if case == "segment-crossing":
        assert [r[3] for r in rows] == [r[0] // 50 for r in rows]
        # the last batch wrote one file into each segment it touched
        added = sorted(f for f in after if f not in before
                       and f.endswith(".parquet"))
        assert [os.path.basename(os.path.dirname(f)) for f in added] == [
            "segment=0", "segment=1",
        ]


def test_record_size_ceiling_counts_utf8_bytes(
    spark, tmp_path, monkeypatch, caplog
):
    """A record within the ceiling in characters but over it in UTF-8
    bytes fails the batch and writes nothing, and its value never
    reaches the driver."""
    row = _generate_event(7)[:-1] + ("é" * 200,)  # 2 bytes a character
    batch = spark.createDataFrame([_generate_event(6), row], SCHEMA_DDL)
    values = {
        r["key"]: r["value"] for r in envelope_batch(batch, SRC).collect()
    }
    ceiling = len(values[7])
    assert len(values[7].encode("utf-8")) > ceiling
    assert len(values[6].encode("utf-8")) <= ceiling
    log_dir = f"{tmp_path}/log_bytes"

    collected = []
    frame = type(batch)
    collect = frame.collect

    def spy(df):
        rows = collect(df)
        collected.extend(rows)
        return rows

    monkeypatch.setattr(frame, "collect", spy)
    with caplog.at_level(logging.WARNING, logger=ingest.__name__):
        with pytest.raises(RecordTooLargeError, match="key 7 exceeds"):
            append_log_batch(
                batch, 0, log_dir, SRC, {}, max_record_size=ceiling
            )
    assert not os.path.exists(log_dir)
    assert any(
        r.levelno == logging.WARNING and "key 7" in r.getMessage()
        for r in caplog.records
    )
    returned = {r["key"]: r["value"] for r in collected}
    assert returned == {6: values[6], 7: None}


def test_batch_over_the_cap_writes_nothing(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(ingest, "DRIVER_BATCH_ROWS", 10)
    log_dir = f"{tmp_path}/log_cap"
    state: dict = {}
    with pytest.raises(BatchTooLargeError, match="DRIVER_BATCH_ROWS=10"):
        append_log_batch(_batch(spark, range(0, 11)), 0, log_dir, SRC, state)
    assert not os.path.exists(log_dir)
    assert state == {}
    append_log_batch(_batch(spark, range(0, 10)), 1, log_dir, SRC, state)
    rows, _ = _sink(log_dir)
    assert [r[0] for r in rows] == list(range(10))


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_page_sized_batch_job_and_file_budget(spark, tmp_path):
    """A continuing 50-row page runs one Spark job (the collect), adds
    one parquet file and leaves no ``_temporary`` directory; a restart
    re-seed adds the sink's max(offset, key) aggregation (at most 2
    more jobs)."""
    log_dir = f"{tmp_path}/log_budget"
    state: dict = {}

    def append(keys, run_state, i):
        batch = _batch(spark, keys).cache()
        batch.count()
        return lambda: append_log_batch(
            batch, i, log_dir, SRC, run_state, 1000, 524288
        )

    append(range(0, 50), state, 0)()
    before = _files(log_dir)
    continuing = _jobs(spark, "ingest-continuing",
                       append(range(50, 100), state, 1))
    added = [f for f in _files(log_dir) if f not in before
             and f.endswith(".parquet")]
    assert len(continuing) <= 1, continuing
    assert len(added) == 1, added
    assert not any("_temporary" in f for f in _files(log_dir))

    reseed = _jobs(spark, "ingest-reseed", append(range(80, 130), {}, 2))
    assert len(reseed) <= 3, reseed
    rows, _ = _sink(log_dir)
    assert [r[0] for r in sorted(rows)] == list(range(130))


def test_debug_line_counts_replay_overlap(spark, tmp_path, caplog):
    log_dir = f"{tmp_path}/log_debug"
    append_log_batch(_batch(spark, range(0, 60)), 0, log_dir, SRC, {})
    with caplog.at_level(logging.DEBUG, logger=ingest.__name__):
        append_log_batch(_batch(spark, range(30, 100)), 1, log_dir, SRC, {})
    [line] = [r.getMessage() for r in caplog.records
              if r.name == ingest.__name__]
    assert line == "batch 1: rows=70 overlap_dropped=30 start=60"


def test_read_sink_checks_the_directory_before_spark(
    spark, tmp_path, monkeypatch
):
    """A missing sink is None without a Spark read; an existing but
    corrupt sink still raises."""
    corrupt = tmp_path / "corrupt"
    corrupt.mkdir()
    (corrupt / "part-0.parquet").write_bytes(b"not parquet")
    read = SparkSession.read

    def no_read(session):
        raise AssertionError("spark.read called for a missing sink")

    monkeypatch.setattr(SparkSession, "read", property(no_read))
    assert read_sink(spark, f"{tmp_path}/missing") is None
    assert read_sink(spark, f"file://{tmp_path}/missing") is None
    monkeypatch.setattr(SparkSession, "read", read)
    with pytest.raises(Exception, match="(?i)parquet"):
        read_sink(spark, str(corrupt)).count()
    with pytest.raises(Exception, match="(?i)parquet"):
        append_log_batch(_batch(spark, range(0, 5)), 0, str(corrupt), SRC, {})
    assert os.listdir(corrupt) == ["part-0.parquet"]


def test_sink_must_be_local(spark, tmp_path, monkeypatch):
    """A non-local sink raises ValueError before a stream starts or
    anything is written; a ``file:`` URI is the local directory."""
    from vsphere_event_streaming_spark.sources.poll_source import (
        read_poll_stream,
    )

    monkeypatch.chdir(tmp_path)
    active = len(spark.streams.active)
    for uri in ("hdfs://namenode:8020/log", "s3a://bucket/log"):
        with pytest.raises(ValueError, match="local directory"):
            append_log_batch(_batch(spark, range(0, 5)), 0, uri, SRC, {})
        with pytest.raises(ValueError, match="local directory"):
            start_ingest(
                spark, read_poll_stream(spark, page_size=5, max_key=5), uri,
                f"{tmp_path}/ckpt",
            )
    assert len(spark.streams.active) == active
    assert os.listdir(tmp_path) == []

    state: dict = {}
    for i, keys in enumerate([range(0, 5), range(5, 10)]):
        append_log_batch(
            _batch(spark, keys), i, f"file://{tmp_path}/log", SRC, state, 50
        )
    assert os.listdir(tmp_path) == ["log"]  # no directory named "file:"
    rows, _ = _sink(f"{tmp_path}/log")
    assert [r[0] for r in rows] == list(range(10))


def test_failed_write_leaves_nothing_visible(spark, tmp_path, monkeypatch):
    """A write that fails after leaving a partial file behind exposes
    nothing and keeps the run's state; appending the same batch again
    gives dense offsets."""
    log_dir = f"{tmp_path}/log"
    state: dict = {}
    append_log_batch(_batch(spark, range(0, 30)), 0, log_dir, SRC, state, 50)
    before, kept = _files(log_dir), dict(state)
    write = pq.write_table
    calls = []

    def failing(table, where, **kw):
        calls.append(where)
        if len(calls) == 2:  # the second segment of a crossing batch
            with open(where, "wb") as fh:
                fh.write(b"PAR1 partial")
            raise OSError("disk full")
        return write(table, where, **kw)

    monkeypatch.setattr(pq, "write_table", failing)
    crossing = _batch(spark, range(30, 80))
    with pytest.raises(OSError, match="disk full"):
        append_log_batch(crossing, 1, log_dir, SRC, state, 50)
    assert len(calls) == 2
    assert all(os.path.basename(f).startswith(".") for f in calls)
    assert _files(log_dir).keys() - before.keys() <= {f"{log_dir}/segment=1"}
    assert not [f for _, _, fs in os.walk(log_dir) for f in fs
                if f.startswith(".")]
    assert state == kept

    monkeypatch.setattr(pq, "write_table", write)
    append_log_batch(crossing, 1, log_dir, SRC, state, 50)
    rows, schemas = _sink(log_dir)
    assert [(r[0], r[1]) for r in rows] == [(k, k) for k in range(80)]
    assert schemas == {FOOTER}
    assert state == {"max_offset": 79, "max_key": 79}


def test_hidden_leftovers_are_ignored(spark, tmp_path):
    """Hidden temp files a crash left behind, one partial and one
    complete, are read by none of Spark, the sink's re-seed, the log
    service and ``pyarrow.dataset``."""
    import pyarrow as pa

    log_dir = f"{tmp_path}/log"
    append_log_batch(_batch(spark, range(0, 40)), 0, log_dir, SRC, {}, 50)
    stray = pa.table({"offset": [10**6], "key": [10**6], "value": ["x"]})
    for segment in ("segment=0", "segment=1"):
        os.makedirs(f"{log_dir}/{segment}", exist_ok=True)
        pq.write_table(
            stray, f"{log_dir}/{segment}/.part-complete.c000.snappy.parquet"
        )
        with open(f"{log_dir}/{segment}/.part-partial.c000.snappy.parquet",
                  "wb") as fh:
            fh.write(b"PAR1 partial")

    assert spark.read.parquet(log_dir).count() == 40
    assert EventLogService(spark.read.parquet(log_dir)).range() == {
        "earliest": 0, "latest": 39,
    }
    append_log_batch(_batch(spark, range(30, 60)), 1, log_dir, SRC, {}, 50)
    rows, schemas = _sink(log_dir)
    assert [(r[0], r[1]) for r in rows] == [(k, k) for k in range(60)]
    assert schemas == {FOOTER}


def test_spark_and_driver_files_read_as_one_schema(spark, tmp_path):
    """A sink holding a file from Spark's parquet writer and files from
    the driver's write reads as one schema without a schema hint."""
    from pyspark.sql.types import LongType, StructField, StructType

    log_dir = f"{tmp_path}/log"
    first = list(_generate_page(0, 30))
    spark_rows = [
        (k, k, v, k // 50)
        for k, v in (
            (r["key"], r["value"])
            for r in envelope_batch(
                spark.createDataFrame(first, SCHEMA_DDL), SRC
            ).collect()
        )
    ]
    schema = StructType(
        [*ingest._SINK_ROW.fields, StructField("segment", LongType())]
    )
    spark.createDataFrame(spark_rows, schema).coalesce(1).write.mode(
        "append"
    ).partitionBy("segment").parquet(log_dir)
    state: dict = {}
    for i, keys in enumerate([range(30, 80), range(80, 90)], start=1):
        append_log_batch(_batch(spark, keys), i, log_dir, SRC, state, 50)

    rows, schemas = _sink(log_dir)
    assert len(glob.glob(f"{log_dir}/**/*.parquet", recursive=True)) == 4
    assert schemas == {FOOTER}
    assert [(r[0], r[1]) for r in rows] == [(k, k) for k in range(90)]
    for merge in ("false", "true"):
        df = spark.read.option("mergeSchema", merge).parquet(log_dir)
        assert df.schema.simpleString() == (
            "struct<offset:bigint,key:bigint,value:string,segment:int>"
        )
        assert sorted(r["offset"] for r in df.collect()) == list(range(90))
