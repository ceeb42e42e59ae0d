"""Contract of the watch-start rule (reference server.go:149-166,
:200-203): ``log.model.watch_start`` is its one owner, and the service
(HTTP watch, ``replay``) and the streaming ``watch()`` open at the
cursors it returns."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from vsphere_event_streaming_spark.errors import OutOfRangeError
from vsphere_event_streaming_spark.log import EventLogService
from vsphere_event_streaming_spark.log.model import watch_start
from vsphere_event_streaming_spark.streaming.ingest import LOG_SCHEMA_DDL
from vsphere_event_streaming_spark.streaming.watch import watch

STARTS = (None, -1, -2, 9, 10, 129, 200)
RAISES = OutOfRangeError
#: start → cursor, per (earliest, latest); RAISES = purged start (400)
GOLDEN = {
    (None, None): {None: 0, -1: 0, -2: -2, 9: 9, 10: 10, 129: 129, 200: 200},
    (10, 129): {None: 130, -1: 130, -2: RAISES, 9: RAISES, 10: 10, 129: 129,
                200: 200},
}


@pytest.mark.parametrize("bounds", list(GOLDEN), ids=["empty", "10-129"])
@pytest.mark.parametrize("start", STARTS)
def test_watch_start_golden(bounds, start):
    want = GOLDEN[bounds][start]
    if want is RAISES:
        with pytest.raises(OutOfRangeError, match=f"^invalid offset: {start}$"):
            watch_start(*bounds, start)
    else:
        assert watch_start(*bounds, start) == want


def _stream_start(stream) -> int:
    buf = io.StringIO()
    with redirect_stdout(buf):
        stream.explain(extended=True)
    found = set(re.findall(r"offset#\d+L? >= (-?\d+)", buf.getvalue()))
    assert len(found) == 1, buf.getvalue()
    return int(found.pop())


def test_service_and_stream_watch_follow_the_rule(spark, tmp_path):
    """On a 120-row parquet log (offsets 10..129) the service's parsed
    start and the streaming ``watch()`` open at the golden cursors and
    raise on the same purged starts; the stream is built, never run."""
    log_dir = str(tmp_path / "log")
    rows = [(i, i, str(i)) for i in range(10, 130)]
    spark.createDataFrame(rows, LOG_SCHEMA_DDL).write.parquet(log_dir)
    svc = EventLogService(spark.read.parquet(log_dir))
    for start, want in GOLDEN[(10, 129)].items():
        raw = None if start is None else str(start)
        if want is RAISES:
            with pytest.raises(OutOfRangeError):
                svc.watch_start(raw)
            with pytest.raises(OutOfRangeError):
                watch(spark, log_dir, start_offset=start)
        else:
            assert svc.watch_start(raw) == want
            stream = watch(spark, log_dir, start_offset=start)
            assert stream.isStreaming and _stream_start(stream) == want
