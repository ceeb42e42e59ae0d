"""Streaming e2e tests: poll source → ingest sink → watch/replay.

Plays the role of the reference's vcsim e2e (main_test.go:30-97): a
deterministic fake upstream, the real collector pipeline, then
assertions on the served log.
"""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from vsphere_event_streaming_spark.errors import OutOfRangeError
from vsphere_event_streaming_spark.log import EventLogService
from vsphere_event_streaming_spark.sources.poll_source import read_poll_stream
from vsphere_event_streaming_spark.streaming.ingest import (
    LOG_SCHEMA_DDL,
    start_ingest,
)
from vsphere_event_streaming_spark.streaming.watch import watch
from vsphere_event_streaming_spark.streaming.windows import (
    compact_log,
    streaming_dedup,
    tumbling_counts,
)


def _run_ingest(spark, tmp, n_events, page_size=50, start_key=0, timeout=180):
    """Run the ingest stream until the sink holds n_events rows."""
    log_dir = f"{tmp}/log"
    stream = read_poll_stream(
        spark, page_size=page_size, start_key=start_key,
        max_key=start_key + n_events,
    )
    q = start_ingest(spark, stream, log_dir, f"{tmp}/ckpt")
    try:
        deadline = time.time() + timeout
        while time.time() < deadline:
            try:
                cnt = spark.read.schema(LOG_SCHEMA_DDL).parquet(log_dir).count()
                if cnt >= n_events:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        else:
            pytest.fail("ingest did not reach expected row count")
    finally:
        q.stop()
        q.awaitTermination(30)
    return log_dir


def test_ingest_segment_partitioned_sink(spark, tmp_path):
    """Opt-in segment layout: offset segments become directories,
    offset-bounded reads prune partitions, purge = directory drop."""
    import os

    tmp = str(tmp_path)
    log_dir = f"{tmp}/log_seg"
    stream = read_poll_stream(spark, page_size=50, max_key=120)
    q = start_ingest(
        spark, stream, log_dir, f"{tmp}/ckpt_seg", segment_size=50
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            try:
                if spark.read.parquet(log_dir).count() >= 120:
                    break
            except Exception:
                pass
            time.sleep(0.5)
        else:
            pytest.fail("segmented ingest did not reach expected count")
    finally:
        q.stop()
        q.awaitTermination(30)

    dirs = sorted(
        d for d in os.listdir(log_dir) if d.startswith("segment=")
    )
    assert dirs == ["segment=0", "segment=1", "segment=2"]
    log = spark.read.parquet(log_dir)
    assert log.count() == 120
    # offset-bounded read only touches matching segment dirs
    import io
    from contextlib import redirect_stdout

    pruned = log.filter(F.col("segment") == 1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        pruned.explain(extended=False)
    assert "PartitionFilters" in buf.getvalue()
    assert [r["offset"] for r in pruned.orderBy("offset").collect()] == list(
        range(50, 100)
    )

    # the watch/replay path reads the segmented layout unchanged
    # (partition column rides along; framing and order preserved)
    got = []
    wq = (
        watch(spark, log_dir, start_offset=0)
        .writeStream.foreachBatch(
            lambda b, i: got.extend(r["offset"] for r in b.collect())
        )
        .option("checkpointLocation", f"{tmp}/wckpt_seg")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline and len(got) < 120:
            time.sleep(0.5)
    finally:
        wq.stop()
        wq.awaitTermination(30)
    assert sorted(got) == list(range(120))


def test_ingest_end_to_end(spark, tmp_path):
    log_dir = _run_ingest(spark, str(tmp_path), 120, page_size=50)
    log = spark.read.schema(LOG_SCHEMA_DDL).parquet(log_dir)
    rows = log.orderBy("offset").collect()
    assert len(rows) == 120
    # offsets dense, seeded at first key (0), key ≡ offset
    assert [r["offset"] for r in rows] == list(range(120))
    assert all(r["key"] == r["offset"] for r in rows)
    # stored value is a valid CloudEvent envelope
    ev = json.loads(rows[7]["value"])
    assert ev["specversion"] == "1.0"
    assert ev["id"] == "7"
    assert ev["type"].startswith("vmware.vsphere.")
    assert ev["eventclass"] in ("event", "eventex", "extendedevent")
    assert ev["data"]["Key"] == 7


def test_ingest_seeds_offsets_from_first_key(spark, tmp_path):
    # reference: first event Key seeds the start offset (main.go:113-125)
    log_dir = _run_ingest(
        spark, str(tmp_path), 60, page_size=25, start_key=500
    )
    log = spark.read.schema(LOG_SCHEMA_DDL).parquet(log_dir)
    row = log.agg(F.min("offset").alias("lo"), F.max("offset").alias("hi")).first()
    assert (row["lo"], row["hi"]) == (500, 559)


def test_ingest_restart_continuity(spark, tmp_path):
    """Restart with replay overlap: offsets stay dense, keys unique."""
    tmp = str(tmp_path)
    _run_ingest(spark, tmp, 100, page_size=50)
    # second run re-reads keys 0..149 (overlap 0..99 must be dropped)
    stream = read_poll_stream(spark, page_size=50, start_key=0, max_key=150)
    q = start_ingest(spark, stream, f"{tmp}/log", f"{tmp}/ckpt2")
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            cnt = spark.read.schema(LOG_SCHEMA_DDL).parquet(f"{tmp}/log").count()
            if cnt >= 150:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    log = spark.read.schema(LOG_SCHEMA_DDL).parquet(f"{tmp}/log")
    rows = log.orderBy("offset").collect()
    assert len(rows) == 150
    assert [r["offset"] for r in rows] == list(range(150))
    keys = [r["key"] for r in rows]
    assert len(set(keys)) == 150  # no duplicate keys despite overlap


def test_service_over_streamed_log(spark, tmp_path):
    log_dir = _run_ingest(spark, str(tmp_path), 120)
    log = spark.read.schema(LOG_SCHEMA_DDL).parquet(log_dir)
    svc = EventLogService(log)
    assert svc.range() == {"earliest": 0, "latest": 119}
    assert json.loads(svc.get_event(42))["id"] == "42"
    page = svc.get_events()
    assert len(page) == 50
    assert json.loads(page[0])["id"] == "70"


def test_watch_replay_from_offset(spark, tmp_path):
    tmp = str(tmp_path)
    log_dir = _run_ingest(spark, tmp, 100)
    got = []
    stream = watch(spark, log_dir, start_offset=90)
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: got.extend(
                r["offset"] for r in b.select("offset").collect()
            )
        )
        .option("checkpointLocation", f"{tmp}/watch_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert sorted(got) == list(range(90, 100))


def test_watch_tail_from_now_sees_only_new_data(spark, tmp_path):
    """T1 'now' semantics: a watch with no offset starts at latest+1 —
    it must deliver nothing that existed at call time and everything
    appended afterwards, in offset order."""
    tmp = str(tmp_path)
    log_dir = _run_ingest(spark, tmp, 100)  # offsets 0..99 exist

    got = []
    stream = watch(spark, log_dir)  # default: tail from latest+1 = 100
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: got.extend(
                r["offset"] for r in b.select("offset").collect()
            )
        )
        .option("checkpointLocation", f"{tmp}/tail_ckpt")
        .start()
    )
    try:
        # append 50 more events (keys 100..149) while the tail runs
        stream2 = read_poll_stream(
            spark, page_size=50, start_key=100, max_key=150
        )
        q2 = start_ingest(spark, stream2, log_dir, f"{tmp}/ckpt_more")
        try:
            deadline = time.time() + 180
            while time.time() < deadline and len(got) < 50:
                time.sleep(0.5)
        finally:
            q2.stop()
            q2.awaitTermination(30)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert sorted(got) == list(range(100, 150))


def test_watch_restart_resumes_from_checkpoint(spark, tmp_path):
    """A watch restarted with the same checkpoint resumes exactly where
    it stopped: no replays, no gaps — the reference's resumable-cursor
    contract (server.go:149-169) via Structured Streaming recovery."""
    tmp = str(tmp_path)
    log_dir = _run_ingest(spark, tmp, 100)

    got_first: list[int] = []
    stream = watch(spark, log_dir, start_offset=0)
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: got_first.extend(
                r["offset"] for r in b.select("offset").collect()
            )
        )
        .option("checkpointLocation", f"{tmp}/resume_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert sorted(got_first) == list(range(100))

    # append 30 more, then restart the SAME checkpointed query
    stream2 = read_poll_stream(spark, page_size=50, start_key=100, max_key=130)
    q2 = start_ingest(spark, stream2, log_dir, f"{tmp}/ckpt_more")
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            cnt = spark.read.schema(LOG_SCHEMA_DDL).parquet(log_dir).count()
            if cnt >= 130:
                break
            time.sleep(0.5)
    finally:
        q2.stop()
        q2.awaitTermination(30)

    got_second: list[int] = []
    stream3 = watch(spark, log_dir, start_offset=0)
    q3 = (
        stream3.writeStream.foreachBatch(
            lambda b, i: got_second.extend(
                r["offset"] for r in b.select("offset").collect()
            )
        )
        .option("checkpointLocation", f"{tmp}/resume_ckpt")  # same ckpt
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(60)
    # only the new offsets — nothing re-delivered, nothing skipped
    assert sorted(got_second) == list(range(100, 130))


def test_watch_purged_start_raises(spark, tmp_path):
    tmp = str(tmp_path)
    log_dir = _run_ingest(spark, tmp, 100)
    compact_log(spark, log_dir, max_segment_size=10)  # keep offsets 80..99
    log = spark.read.schema(LOG_SCHEMA_DDL).parquet(log_dir)
    row = log.agg(F.min("offset").alias("lo"), F.max("offset").alias("hi")).first()
    assert (row["lo"], row["hi"]) == (80, 99)
    with pytest.raises(OutOfRangeError):
        watch(spark, log_dir, start_offset=0)


def test_ndjson_client_decode(spark, tmp_path):
    """S5: the client-side NDJSON consume loop — stored wire lines
    decode back to typed envelopes with offset ≡ id ≡ Key."""
    from vsphere_event_streaming_spark.streaming.watch import consume_ndjson

    log_dir = _run_ingest(spark, str(tmp_path), 60)
    lines = spark.read.schema(LOG_SCHEMA_DDL).parquet(log_dir)
    events = consume_ndjson(lines).collect()
    assert len(events) == 60
    for r in events:
        assert int(r["id"]) == r["key"]
        assert r["type"].startswith("vmware.vsphere.")
        assert r["eventclass"] in ("event", "eventex", "extendedevent")
        assert r["time"] is not None


def test_stream_static_enrich(spark, tmp_path):
    """J7: stream-static broadcast join enriches the live stream."""
    from vsphere_event_streaming_spark.streaming.enrich import enrich_with_dim

    tmp = str(tmp_path)
    dim = spark.createDataFrame(
        [(f"user{i}", "gold" if i % 2 == 0 else "basic") for i in range(8)],
        "user_name string, tier string",
    )
    stream = read_poll_stream(spark, page_size=50, max_key=64)
    enriched = enrich_with_dim(stream, dim, on="user_name", how="left")
    got = []
    q = (
        enriched.writeStream.foreachBatch(
            lambda b, i: got.extend(b.select("key", "tier").collect())
        )
        .option("checkpointLocation", f"{tmp}/enrich_ckpt")
        .start()
    )
    try:
        deadline = time.time() + 150
        while time.time() < deadline and len(got) < 64:
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    by_key = {r["key"]: r["tier"] for r in got}
    assert len(by_key) == 64
    # user_name = f"user{key % 16}": keys 0..7 resolve, 8..15 stay NULL
    assert by_key[4] == "gold" and by_key[5] == "basic"
    assert by_key[12] is None  # left join preserves unresolved refs


def test_stream_stream_join(spark, tmp_path):
    """Stream-stream join: click → purchase by the same user within 2 min.

    Two live poll streams join on user_name with an event-time range
    condition; the expected pair set is computed independently from the
    deterministic generator (same role as the reference's vcsim oracle).

    De-flaked per VERDICT_r8 #4: the poll source is BOUNDED (max_key),
    so ``processAllAvailable()`` blocks until every generated page is
    polled and joined on both sides — the previous wall-clock polling
    loop (sleep + 180 s deadline) was timing-margin-sensitive under
    full-suite co-tenant load. Inner stream-stream joins emit matches
    in the micro-batch that completes them (watermarks only bound
    state eviction), so after processAllAvailable() the sink holds the
    complete pair set with no margin to tune.
    """
    from vsphere_event_streaming_spark.sources.poll_source import (
        _generate_event,
    )
    from vsphere_event_streaming_spark.streaming.enrich import (
        stream_stream_join,
    )

    tmp = str(tmp_path)
    n = 240  # 4 minutes of 1/sec events
    rows = [_generate_event(k) for k in range(n)]
    expected = {
        (l[0], r[0])
        for l in rows
        if l[2] == "click"
        for r in rows
        if r[2] == "purchase"
        and r[3] == l[3]
        and 0 <= (r[1] - l[1]).total_seconds() <= 120
    }
    assert expected  # oracle sanity: the window does produce pairs

    clicks = read_poll_stream(spark, page_size=50, max_key=n).filter(
        F.col("event_type") == "click"
    )
    purchases = read_poll_stream(spark, page_size=50, max_key=n).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_stream_join(
        clicks, purchases, on="user_name", within="2 minutes"
    ).select("key", "r_key")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_test")
        .option("checkpointLocation", f"{tmp}/ckpt_ss")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT key, r_key FROM ss_join_test").collect()
    finally:
        q.stop()
        q.awaitTermination(30)
    assert {(r["key"], r["r_key"]) for r in got} == expected


def test_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionizer: inline close + timeout close.

    File-source stream with controlled event times: user A has two runs
    separated by > gap (first closes inline when the second run
    arrives); the sentinel file advances the watermark so the remaining
    open sessions close via event-time timeout.
    """
    import datetime as dt

    from vsphere_event_streaming_spark.streaming.stateful import sessionize

    tmp = str(tmp_path)
    in_dir, ckpt = f"{tmp}/in", f"{tmp}/ckpt_sess"
    base = dt.datetime(2024, 1, 1)
    schema = "user_name string, created_time timestamp"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    # batch 1: A run1 (0,10,20), A run2 (100,110) — gap 30 closes run1
    # inline; B single run (5,15)
    write_batch(
        "b1",
        [("A", base + dt.timedelta(seconds=s)) for s in (0, 10, 20, 100, 110)]
        + [("B", base + dt.timedelta(seconds=s)) for s in (5, 15)],
    )
    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        sessionize(stream, gap_seconds=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_test")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        deadline = time.time() + 150
        sentinel_written = False
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT * FROM sessions_test WHERE user_name <> 'Z'"
            ).collect()
            if len(rows) >= 1 and not sentinel_written:
                # run1 of A closed inline; advance the watermark far past
                # every last_seen + gap so B and A-run2 close via timeout
                write_batch(
                    "b2", [("Z", base + dt.timedelta(seconds=10_000))]
                )
                sentinel_written = True
            if len(rows) == 3:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    got = {
        (r["user_name"], r["session_start"], r["session_end"], r["n_events"])
        for r in rows
    }
    assert got == {
        ("A", base, base + dt.timedelta(seconds=20), 3),
        ("A", base + dt.timedelta(seconds=100),
         base + dt.timedelta(seconds=110), 2),
        ("B", base + dt.timedelta(seconds=5),
         base + dt.timedelta(seconds=15), 2),
    }


def test_running_user_stats_accumulates(spark, tmp_path):
    """Per-user lifetime counters accumulate across micro-batches and
    match the generator's key distribution (applyInPandasWithState —
    the stateful API that runs without the protobuf state server)."""
    from vsphere_event_streaming_spark.streaming.stateful import (
        running_user_stats,
    )

    api = "v1"
    tmp = str(tmp_path)
    n = 200  # user_name = f"user{key % 16}" → 8 users x13, 8 x12
    stream = read_poll_stream(spark, page_size=50, max_key=n)
    q = (
        running_user_stats(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(f"tws_test_{api}")
        .option("checkpointLocation", f"{tmp}/ckpt_tws")
        .start()
    )
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT user_name, max(n_events) AS n, max(max_key) AS mk "
                f"FROM tws_test_{api} GROUP BY user_name"
            ).collect()
            if sum(r["n"] for r in rows) >= n and len(rows) == 16:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    got = {r["user_name"]: (r["n"], r["mk"]) for r in rows}
    expect = {}
    for u in range(16):
        keys = [k for k in range(n) if k % 16 == u]
        expect[f"user{u}"] = (len(keys), max(keys))
    assert got == expect


def test_stateful_sessionize_late_and_null_events(spark, tmp_path):
    """Robustness: null event times are dropped; an allowed-late event
    merges into the open session (expands it) instead of moving the
    end backward or splitting."""
    import datetime as dt

    from vsphere_event_streaming_spark.streaming.stateful import sessionize

    tmp = str(tmp_path)
    in_dir, ckpt = f"{tmp}/in", f"{tmp}/ckpt_late"
    base = dt.datetime(2024, 1, 1)
    schema = "user_name string, created_time timestamp"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    write_batch([("A", base + dt.timedelta(seconds=100)), ("A", None)])
    stream = spark.readStream.schema(schema).parquet(in_dir)
    q = (
        sessionize(stream, gap_seconds=30, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_late_test")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        time.sleep(3)  # batch 1 processed
        # allowed-late event (watermark is 10 min): merges into [50,100]
        write_batch([("A", base + dt.timedelta(seconds=50))])
        time.sleep(3)
        # sentinel far in the future closes A via event-time timeout
        write_batch([("Z", base + dt.timedelta(seconds=100_000))])
        deadline = time.time() + 150
        rows = []
        while time.time() < deadline:
            rows = spark.sql(
                "SELECT * FROM sessions_late_test WHERE user_name = 'A'"
            ).collect()
            if rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    assert len(rows) == 1
    r = rows[0]
    assert r["session_start"] == base + dt.timedelta(seconds=50)
    assert r["session_end"] == base + dt.timedelta(seconds=100)
    assert r["n_events"] == 2  # the null-time record was dropped


def test_streaming_dedup_and_tumbling(spark, tmp_path):
    """Streaming dedup + windowed agg over the poll source."""
    tmp = str(tmp_path)
    stream = read_poll_stream(spark, page_size=50, max_key=100)
    deduped = streaming_dedup(stream, key_col="key", watermark="0 seconds")
    counts = tumbling_counts(deduped, window="1 minute", watermark=None)
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("tumbling_test")
        .option("checkpointLocation", f"{tmp}/ckpt_t")
        .start()
    )
    try:
        deadline = time.time() + 150
        while time.time() < deadline:
            if not q.status["isDataAvailable"] and q.recentProgress:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)
    rows = spark.sql("SELECT * FROM tumbling_test").collect()
    # events are 1/sec from 2024-01-01; with watermark, closed 1-min
    # windows hold exactly 60
    assert all(r["n"] == 60 for r in rows)


def test_poll_source_upstream_adapter_contract():
    """The SOAP-client seam: everything the stream reader requires of
    its upstream page function, so a real vCenter ``ReadNextEvents``
    adapter (reference main.go:107-125) can replace ``_generate_page``
    without touching PollStreamReader.

    Contract: (1) a page is bounded by the requested key span and the
    reference page size; (2) keys are strictly monotonic within and
    across consecutive pages (the vSphere event Key cursor); (3) the
    same span replays identically (at-least-once restart recovery
    depends on it); (4) each record matches the declared schema arity
    and types, with a timezone-aware created_time.
    """
    import datetime as dt

    from vsphere_event_streaming_spark.sources.poll_source import (
        DEFAULT_PAGE_SIZE,
        SCHEMA_DDL,
        PollStreamReader,
        _generate_page,
    )

    # (1) reader caps each poll at page_size over the upstream span
    reader = PollStreamReader({"page_size": str(DEFAULT_PAGE_SIZE)})
    it, end = reader.read({"key": 100})
    page = list(it)
    assert len(page) == DEFAULT_PAGE_SIZE == 50
    assert end == {"key": 150}

    # (2) strict key monotonicity within and across pages
    it2, end2 = reader.read(end)
    keys = [r[0] for r in page] + [r[0] for r in it2]
    assert keys == list(range(100, 100 + len(keys)))

    # (3) replay determinism: the same span yields identical records
    assert list(reader.readBetweenOffsets({"key": 100}, {"key": 150})) == page
    assert list(_generate_page(100, 150)) == page

    # (4) record shape matches the declared source schema
    n_fields = len(SCHEMA_DDL.split(","))
    for rec in page:
        assert len(rec) == n_fields
        key, ts, etype, user, msg = rec
        assert isinstance(key, int)
        assert isinstance(ts, dt.datetime) and ts.tzinfo is not None
        assert isinstance(etype, str) and isinstance(user, str)
        assert isinstance(msg, str)

    # empty span (caught-up poll) returns no rows and does not advance
    empty_reader = PollStreamReader({"page_size": "50", "max_key": "100"})
    it3, end3 = empty_reader.read({"key": 100})
    assert list(it3) == [] and end3 == {"key": 100}


def _canned_soap_transport():
    """Transport stub replaying the VIM operations the adapter issues.

    The wire is this sandbox's documented boundary (no network): the
    canned XML mirrors the public vim25 response shapes, so everything
    above the socket — envelope building, fault detection, collector
    bootstrap, page conversion, key ordering, page cap — runs for real.
    """
    state = {"next_key": 1000, "logins": 0}

    def send(url: str, body: bytes) -> bytes:
        b = body.decode()
        rv = ""
        if "RetrieveServiceContent" in b:
            rv = (
                "<returnval>"
                "<sessionManager type='SessionManager'>SessionManager"
                "</sessionManager>"
                "<eventManager type='EventManager'>EventManager"
                "</eventManager>"
                "<rootFolder type='Folder'>group-d1</rootFolder>"
                "</returnval>"
            )
        elif "Login" in b:
            state["logins"] += 1
            rv = "<returnval/>"
        elif "CreateCollectorForEvents" in b:
            assert "<vim25:beginTime>" in b  # stream-begin filter set
            rv = "<returnval type='EventHistoryCollector'>sess-hc1</returnval>"
        elif "ReadNextEvents" in b:
            assert "sess-hc1" in b
            import re as _re

            n = int(_re.search(r"<vim25:maxCount>(\d+)", b).group(1))
            evs = []
            for _ in range(n):
                k = state["next_key"]
                state["next_key"] += 1
                evs.append(
                    "<returnval xsi:type='vim25:VmPoweredOnEvent'>"
                    f"<key>{k}</key>"
                    f"<createdTime>2024-01-01T00:{k % 60:02d}:00Z"
                    "</createdTime>"
                    f"<userName>user{k % 16}</userName>"
                    "<fullFormattedMessage>VM powered on"
                    "</fullFormattedMessage></returnval>"
                )
            rv = "".join(evs)
        return (
            "<soapenv:Envelope "
            "xmlns:soapenv='http://schemas.xmlsoap.org/soap/envelope/' "
            "xmlns:xsi='http://www.w3.org/2001/XMLSchema-instance' "
            f"xmlns='urn:vim25'><soapenv:Body>{rv}"
            "</soapenv:Body></soapenv:Envelope>"
        ).encode()

    return send, state


def test_soap_adapter_contract():
    """The real-SOAP twin of the upstream adapter contract: page cap,
    strict key monotonicity across polls, schema-arity records with
    tz-aware timestamps — through actual VIM envelope construction and
    response parsing (transport canned; see _canned_soap_transport)."""
    import datetime as dt

    from vsphere_event_streaming_spark.sources.poll_source import SCHEMA_DDL
    from vsphere_event_streaming_spark.sources.soap_client import (
        SoapConfig,
        VSphereSoapEventSource,
    )

    send, state = _canned_soap_transport()
    src = VSphereSoapEventSource(
        SoapConfig(url="https://vc.example/sdk", username="u", password="p"),
        transport=send,
    )
    # (1) page cap: the reference page size bounds any request
    page, last = src.read_page(page_size=500)
    assert len(page) == 50 and last == page[-1][0]
    assert state["logins"] == 1  # collector bootstrap happened once
    # (2) strict monotonicity within and across pages
    page2, last2 = src.read_page(page_size=50)
    keys = [r[0] for r in page] + [r[0] for r in page2]
    assert keys == sorted(keys) and len(set(keys)) == len(keys)
    assert state["logins"] == 1  # collector reused, not re-created
    # (4) record shape matches the declared source schema
    n_fields = len(SCHEMA_DDL.split(","))
    for rec in page:
        assert len(rec) == n_fields
        key, ts, etype, user, msg = rec
        assert isinstance(key, int)
        assert isinstance(ts, dt.datetime) and ts.tzinfo is not None
        assert etype == "VmPoweredOnEvent"
        assert user.startswith("user") and isinstance(msg, str)


def test_soap_login_escapes_xml_special_chars():
    """Credentials (and server-returned ids) are XML-escaped into SOAP
    bodies: a password containing & < > ' " must neither break the
    envelope nor inject markup."""
    import xml.etree.ElementTree as ET

    from vsphere_event_streaming_spark.sources.soap_client import (
        SoapConfig,
        VSphereSoapEventSource,
    )

    inner_send, _ = _canned_soap_transport()
    bodies: list[str] = []

    def send(url: str, body: bytes) -> bytes:
        bodies.append(body.decode())
        return inner_send(url, body)

    nasty = "p&ss<w>o'r\"d"
    src = VSphereSoapEventSource(
        SoapConfig(
            url="https://vc.example/sdk", username="u&er", password=nasty
        ),
        transport=send,
    )
    src.read_page(page_size=1)
    login = next(b for b in bodies if "Login" in b)
    assert nasty not in login  # raw specials never hit the wire
    assert "p&amp;ss&lt;w&gt;o'r\"d" in login
    assert "u&amp;er" in login
    ET.fromstring(login)  # request stays well-formed XML


def test_soap_adapter_offline_and_env_errors():
    """Offline behavior is a clean ConnectionError naming the URL;
    missing env is a clean ValueError naming the contract."""
    import pytest as _pytest

    from vsphere_event_streaming_spark.sources.soap_client import (
        SoapConfig,
        VSphereSoapEventSource,
    )

    with _pytest.raises(ValueError, match="VCENTER_URL"):
        SoapConfig.from_env(environ={})
    with _pytest.raises(ValueError, match="suffix"):
        SoapConfig.from_env(
            environ={
                "VCENTER_URL": "https://vc.example",
                "VCENTER_SECRET_PATH": "/nonexistent",
                "VCENTER_STREAM_BEGIN": "bogus",
            }
        )
    src = VSphereSoapEventSource(
        SoapConfig(
            url="https://127.0.0.1:1/sdk", username="u", password="p"
        )
    )
    with _pytest.raises(ConnectionError, match="127.0.0.1"):
        src.read_page()


def test_ingest_record_size_ceiling(spark, tmp_path):
    """memlog's LOG_MAX_RECORD_SIZE_BYTES surface: an oversized
    enveloped record fails the batch with RecordTooLargeError BEFORE
    anything is appended (the reference's write error aborts the
    collector, main.go:140-143); a generous ceiling passes the same
    batch untouched."""
    from vsphere_event_streaming_spark.errors import RecordTooLargeError
    from vsphere_event_streaming_spark.sources.poll_source import (
        SCHEMA_DDL,
        _generate_page,
    )
    from vsphere_event_streaming_spark.streaming.ingest import (
        append_log_batch,
    )

    batch = spark.createDataFrame(list(_generate_page(0, 10)), SCHEMA_DDL)
    log_dir = f"{tmp_path}/log_ceiling"

    with pytest.raises(RecordTooLargeError, match="max_record_size=64"):
        append_log_batch(
            batch, 0, log_dir, "test://vc", {}, max_record_size=64
        )
    import os

    assert not os.path.exists(log_dir)  # failed batch wrote nothing

    append_log_batch(
        batch, 0, log_dir, "test://vc", {}, max_record_size=524288
    )
    assert spark.read.parquet(log_dir).count() == 10


def test_purge_segments_is_directory_drop(spark, tmp_path):
    """Retention on the segment-partitioned sink = dropping the oldest
    segment dirs (the reference's active+history ring, README.md:
    177-184): offsets below the ring survive nowhere, newer segments
    are untouched, and a replay started inside the purged range raises
    the same OutOfRangeError as the unpartitioned path."""
    import os

    from vsphere_event_streaming_spark.streaming.windows import (
        purge_segments,
    )

    tmp = str(tmp_path)
    log_dir = f"{tmp}/log_ring"
    stream = read_poll_stream(spark, page_size=50, max_key=200)
    q = start_ingest(spark, stream, log_dir, f"{tmp}/ckpt_ring",
                     segment_size=50)
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            try:
                if spark.read.parquet(log_dir).count() >= 200:
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)

    assert purge_segments(spark, log_dir, keep_segments=2) == [0, 1]
    segs = sorted(d for d in os.listdir(log_dir) if d.startswith("segment="))
    assert segs == ["segment=2", "segment=3"]
    log = spark.read.parquet(log_dir)
    assert log.agg(F.min("offset"), F.max("offset")).first() == (100, 199)

    svc = EventLogService(log.select("offset", "value"))
    with pytest.raises(OutOfRangeError):
        svc.replay(10)


def test_start_store_epoch_ids_resume_and_prefix(spark, tmp_path):
    """start_store's epoch contract: one ``<prefix><epoch>`` id per
    file at ``max_files_per_trigger=1``; a rerun on the same checkpoint
    sees only the new file, and a fresh checkpoint with a fresh
    ``batch_prefix`` restarts at epoch 0 in its own namespace."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from vsphere_event_streaming_spark.streaming.store_stream import (
        start_store,
    )

    tmp = str(tmp_path)
    in_dir = f"{tmp}/in"
    calls = []

    def add(batch_df, batch_id):
        calls.append((batch_id, sorted(r["k"] for r in batch_df.collect())))

    t0 = time.time()

    def put(k):
        # one single-row file per epoch, written without a Spark job;
        # distinct mtimes fix the file source's (mtime-ordered) epochs
        os.makedirs(in_dir, exist_ok=True)
        path = f"{in_dir}/part-{k}.parquet"
        pq.write_table(pa.table({"k": pa.array([k], pa.int64())}), path)
        os.utime(path, (t0 + k, t0 + k))

    def run(ckpt, **kw):
        q = start_store(
            spark, add, in_dir, f"{tmp}/{ckpt}", "k long",
            max_files_per_trigger=1, **kw,
        )
        assert q.awaitTermination(60)
        got = list(calls)
        calls.clear()
        return got

    put(0)
    put(1)
    assert run("ckpt") == [("b0", [0]), ("b1", [1])]
    put(2)
    assert run("ckpt") == [("b2", [2])]
    assert run("ckpt") == []
    assert run("ckpt2", batch_prefix="r2-") == [
        ("r2-0", [0]), ("r2-1", [1]), ("r2-2", [2]),
    ]


def test_incremental_dedup_stream_across_batches(spark, tmp_path):
    """Streaming LshIndex: batch 2 dedups against batch 1's bands via
    the persisted index, and pair emission is per-epoch idempotent."""
    from vsphere_event_streaming_spark.streaming.dedup_stream import (
        read_candidate_pairs,
        start_incremental_dedup,
    )

    tmp = str(tmp_path)
    in_dir, idx, pairs, ckpt = (
        f"{tmp}/in", f"{tmp}/idx", f"{tmp}/pairs", f"{tmp}/ckpt",
    )
    base = "the quick brown fox jumps over the lazy"

    def run():
        q = start_incremental_dedup(spark, in_dir, idx, pairs, ckpt)
        q.awaitTermination(120)

    spark.createDataFrame(
        [(0, base + " dog"), (1, "totally unrelated text about engines")],
        ["doc_id", "text"],
    ).write.mode("append").parquet(in_dir)
    run()
    first = {
        (r["id_a"], r["id_b"])
        for r in read_candidate_pairs(spark, pairs).collect()
    }
    assert first == set()  # no near-dups within batch 1

    # batch 2 holds a near-dup of a batch-1 doc: cross-batch candidate
    # must surface through the index, not batch-local state
    spark.createDataFrame(
        [(2, base + " cat")], ["doc_id", "text"]
    ).write.mode("append").parquet(in_dir)
    run()
    second = read_candidate_pairs(spark, pairs)
    got = {(r["id_a"], r["id_b"]) for r in second.collect()}
    assert (0, 2) in got, got

    # restart with nothing new: checkpoint replays no epoch, pair
    # partitions unchanged
    n_before = second.count()
    run()
    assert read_candidate_pairs(spark, pairs).count() == n_before


def test_incremental_semantic_dedup_stream_matches_batch(spark, tmp_path):
    """Streaming VectorLshIndex: decisions accumulated over monotone
    id-range batches equal the batch semantic_dedup run over the
    union exactly (same min-id dominance; the index stores dropped
    vectors too so dominators survive), cross-batch redundancy is
    caught through the persisted index, and replay is idempotent."""
    from vsphere_event_streaming_spark.functions.vectors import (
        semantic_dedup,
    )
    from vsphere_event_streaming_spark.streaming.dedup_stream import (
        read_semantic_decisions,
        start_incremental_semantic_dedup,
    )
    from vsphere_event_streaming_spark.tables import load

    tmp = str(tmp_path)
    in_dir, idx, dec, ckpt = (
        f"{tmp}/in", f"{tmp}/idx", f"{tmp}/dec", f"{tmp}/ckpt",
    )
    emb = load(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    cut = n // 2
    # monotone id-range batches: crawl-ingest semantics, under which
    # emit-once decisions and the global min-id rule coincide
    for lo, hi in ((0, cut), (cut, n + 1)):
        emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).coalesce(1).write.mode("append").parquet(in_dir)

    q = start_incremental_semantic_dedup(
        spark, in_dir, idx, dec, ckpt, max_files_per_trigger=1
    )
    assert q.awaitTermination(300)

    got = {
        r["vec_id"]: r["kept"]
        for r in read_semantic_decisions(spark, dec).collect()
    }
    want = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(emb).collect()
    }
    assert len(got) == n
    assert got == want
    # both batches produced decisions (the stream really split)
    epochs = {
        r["batch_id"]
        for r in read_semantic_decisions(spark, dec).collect()
    }
    assert len(epochs) == 2, epochs
    # at least one cross-batch or within-batch drop exists, or the
    # parity assertion above is vacuous
    assert any(not k for k in want.values())

    # replay with nothing new: no epoch re-runs, decisions unchanged
    q = start_incremental_semantic_dedup(
        spark, in_dir, idx, dec, ckpt, max_files_per_trigger=1
    )
    assert q.awaitTermination(120)
    assert read_semantic_decisions(spark, dec).count() == n


def test_incremental_bpe_vocab_stream(spark, tmp_path):
    """L12''' streaming form: documents streamed in per-file epochs
    build a BpeVocab whose retrain is BIT-IDENTICAL to a from-scratch
    train over the whole corpus — the tokenizer-refresh topology."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.bpe import (
        BpeVocab,
        DEFAULT_MERGES,
        learn_bpe,
        word_vocab,
    )
    from vsphere_event_streaming_spark.streaming.bpe_stream import (
        start_incremental_bpe_vocab,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    in_dir = f"{tmp_path}/in"
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_bpe_vocab(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/vocab",
        f"{tmp_path}/ckpt",
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    streamed = BpeVocab(spark, f"{tmp_path}/vocab")
    assert streamed.train(DEFAULT_MERGES) == learn_bpe(
        word_vocab(docs), DEFAULT_MERGES
    )
    # streamed counts == batch counts, word for word
    got = {r.word: r.cnt for r in streamed.vocab().collect()}
    want = {r.word: r.cnt for r in word_vocab(docs).collect()}
    assert got == want


def test_streaming_classifier_scoring_parity(spark, tmp_path):
    """L34 serve path: frozen trained weights score an embedding
    stream as a stateless projection; streamed scores must equal the
    batch scores row-for-row (same expression tree), and the keep
    gate must match the batch threshold cut."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.classifier import (
        logreg_score,
        train_logreg,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        start_streaming_scoring,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    w = train_logreg(emb, iters=4, lr_num=3, lr_den=1, pos_weight=9)
    in_dir = f"{tmp_path}/in"
    for b in range(3):
        emb.filter(F.col("vec_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_streaming_scoring(
        spark,
        in_dir + "/part*",
        w,
        f"{tmp_path}/ckpt",
        query_name="t_model_scores",
    )
    q.awaitTermination(120)
    got = {
        r.vec_id: (r.p, r.keep)
        for r in spark.sql("SELECT * FROM t_model_scores").collect()
    }
    want = {
        r.vec_id: (r.p, r.keep)
        for r in emb.select(
            "vec_id",
            logreg_score(F.col("embedding"), w).alias("p"),
            (logreg_score(F.col("embedding"), w) >= 0.5)
            .cast("int")
            .alias("keep"),
        ).collect()
    }
    assert got == want
    assert any(k for _, k in got.values()) and not all(
        k for _, k in got.values()
    )


def test_incremental_gram_stream(spark, tmp_path):
    """L35 train path: embedding batches streamed in per-file epochs
    build a GramStore whose merged Gram — and therefore the retrained
    component — is BIT-IDENTICAL to from-scratch over the union."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.classifier import (
        GramStore,
        gram_micro,
        power_iteration,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        start_incremental_gram,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    in_dir = f"{tmp_path}/in"
    for b in range(3):
        emb.filter(F.col("vec_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_gram(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/gram",
        f"{tmp_path}/ckpt",
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    store = GramStore(spark, f"{tmp_path}/gram")
    assert store.gram() == gram_micro(emb)
    g = gram_micro(emb)
    d = 1 + max(i for i, _ in g)
    assert store.train(iters=6) == power_iteration(g, d, iters=6)


def test_streaming_pca_and_cluster_serve_parity(spark, tmp_path):
    """L35''/L36 serve paths (r8): frozen trained components /
    centroids applied to an embedding stream as stateless projections
    must equal the batch projections row-for-row (same expression
    tree through readStream)."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.classifier import (
        gram_micro,
        pca_project,
        pca_topm,
    )
    from vsphere_event_streaming_spark.functions.kmeans import (
        kmeans_assign,
        train_kmeans,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        EMB_STREAM_SCHEMA,
        streaming_cluster_assignments,
        streaming_pca_projection,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    g = gram_micro(emb)
    d = 1 + max(i for i, _ in g)
    comps = pca_topm(g, d, iters=6, m=4)
    cm = train_kmeans(emb, k=8, iters=2)

    in_dir = f"{tmp_path}/in"
    emb.write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(EMB_STREAM_SCHEMA).parquet(in_dir)

    q1 = (
        streaming_pca_projection(stream, comps)
        .writeStream.format("memory")
        .queryName("t_pca_serve")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_pca")
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)
    got = {
        r.vec_id: (r.pc1, r.pc2, r.pc3, r.pc4)
        for r in spark.sql("SELECT * FROM t_pca_serve").collect()
    }
    want = {
        r.vec_id: (r.pc1, r.pc2, r.pc3, r.pc4)
        for r in emb.select(
            "vec_id",
            *[
                F.round(
                    pca_project(F.col("embedding"), comps[i]), 6
                ).alias(f"pc{i + 1}")
                for i in range(4)
            ],
        ).collect()
    }
    assert got == want

    q2 = (
        streaming_cluster_assignments(stream, cm)
        .writeStream.format("memory")
        .queryName("t_cell_serve")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_cell")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got_c = {
        r.vec_id: r.cid
        for r in spark.sql("SELECT * FROM t_cell_serve").collect()
    }
    want_c = {
        r.vec_id: r.cid
        for r in emb.select(
            "vec_id", kmeans_assign(F.col("embedding"), cm).alias("cid")
        ).collect()
    }
    assert got_c == want_c
    assert len(set(got_c.values())) > 1  # a real partition of the corpus


def test_streaming_whitened_serve_parity(spark, tmp_path):
    """L35''' serve path (r9, VERDICT_r8 #7): frozen eigenvalue-
    ordered components + their λs + N applied to an embedding stream
    as the λ-scaled whitened projection must equal the BATCH
    q_embed_whiten row-for-row (same whiten_columns expression tree
    through readStream), including the guarded-zero contract."""
    from vsphere_event_streaming_spark.functions.classifier import (
        gram_micro,
        pca_topm_ordered,
    )
    from vsphere_event_streaming_spark.queries.model_queries import (
        PCA_ITERS,
        PCA_TOPM,
        q_embed_whiten,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        EMB_STREAM_SCHEMA,
        streaming_whitened_projection,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    g = gram_micro(emb)
    d = 1 + max(i for i, _ in g)
    comps, lams = pca_topm_ordered(g, d, iters=PCA_ITERS, m=PCA_TOPM)
    n = emb.count()

    in_dir = f"{tmp_path}/in_whiten"
    emb.write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(EMB_STREAM_SCHEMA).parquet(in_dir)
    q = (
        streaming_whitened_projection(stream, comps, lams, n)
        .writeStream.format("memory")
        .queryName("t_whiten_serve")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_whiten")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    cols = [f"w{c + 1}" for c in range(PCA_TOPM)]
    got = {
        r.vec_id: tuple(r[c] for c in cols)
        for r in spark.sql("SELECT * FROM t_whiten_serve").collect()
    }
    want = {
        r.vec_id: tuple(r[c] for c in cols)
        for r in q_embed_whiten(spark, sf_dir).collect()
    }
    assert got == want
    # whitened coordinates genuinely vary (the projection is live)
    assert len({v[0] for v in got.values()}) > 1


def test_streaming_outlier_serve_parity(spark, tmp_path):
    """L35''''' serve path (r10): the frozen eigenvalue-ordered
    components applied to an embedding stream as the reconstruction-
    error residual must equal the BATCH q_embed_outlier's scoring
    row-for-row (same outlier_residual expression tree through
    readStream) — the declared query's top-k is then just the heap
    over these scores."""
    from vsphere_event_streaming_spark.functions.classifier import (
        gram_micro,
        outlier_residual,
        pca_topm_ordered,
    )
    from vsphere_event_streaming_spark.queries.model_queries import (
        PCA_ITERS,
        PCA_TOPM,
        q_embed_outlier,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        EMB_STREAM_SCHEMA,
        streaming_outlier_scores,
    )

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    g = gram_micro(emb)
    d = 1 + max(i for i, _ in g)
    comps, _ = pca_topm_ordered(g, d, iters=PCA_ITERS, m=PCA_TOPM)

    in_dir = f"{tmp_path}/in_outlier"
    emb.write.mode("overwrite").parquet(in_dir)
    stream = spark.readStream.schema(EMB_STREAM_SCHEMA).parquet(in_dir)
    q = (
        streaming_outlier_scores(stream, comps)
        .writeStream.format("memory")
        .queryName("t_outlier_serve")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/ckpt_outlier")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.vec_id: r.resid_energy
        for r in spark.sql("SELECT * FROM t_outlier_serve").collect()
    }
    # per-row parity against the same expression run in batch
    want = {
        r.vec_id: r.resid_energy
        for r in emb.select(
            "vec_id",
            outlier_residual(F.col("embedding"), comps).alias(
                "resid_energy"
            ),
        ).collect()
    }
    assert got == want and len(got) == emb.count()
    # ...and the declared query's top-k is exactly the k highest
    # streamed scores (rounded tie-break on vec_id)
    topk = q_embed_outlier(spark, sf_dir).collect()
    want_top = sorted(got.items(), key=lambda kv: (-kv[1], kv[0]))[
        : len(topk)
    ]
    assert [(r.vec_id, r.resid_energy) for r in topk] == want_top
    assert len({v for v in got.values()}) > 1  # scores genuinely vary


def test_incremental_auc_cell_stream(spark, tmp_path):
    """L34-b monitor path (r8): embedding batches streamed in per-file
    epochs score through the frozen classifier into an AucCellStore
    whose merged cells — and therefore the running AUC — are
    BIT-IDENTICAL to the batch binned AUC over the union; a replayed
    batch overwrites instead of double-counting."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.classifier import (
        AucCellStore,
        auc_cells,
        auc_from_cells,
        logreg_score,
        train_logreg,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        start_incremental_auc_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    w = train_logreg(emb, iters=4, lr_num=3, lr_den=1, pos_weight=9)
    in_dir = f"{tmp_path}/in"
    for b in range(3):
        emb.filter(F.col("vec_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_auc_cells(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/cells",
        f"{tmp_path}/ckpt",
        w_micro=w,
        max_files_per_trigger=1,  # one epoch per batch dir
    )
    q.awaitTermination(120)
    store = AucCellStore(spark, f"{tmp_path}/cells")

    scored = emb.select(
        F.when(F.col("label") == 0, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        logreg_score(F.col("embedding"), w).alias("p"),
    )
    want_cells = {
        r["bin"]: (r["cpos"], r["cneg"])
        for r in auc_cells(scored).collect()
    }
    got_cells = {
        r["bin"]: (r["cpos"], r["cneg"])
        for r in store.cells().collect()
    }
    assert got_cells == want_cells
    want = auc_from_cells(auc_cells(scored)).collect()[0]
    got = store.auc().collect()[0]
    assert (got["n_pos"], got["n_neg"], got["auc_num2"], got["auc"]) == (
        want["n_pos"], want["n_neg"], want["auc_num2"], want["auc"]
    )
    assert 0.5 < got["auc"] <= 1.0

    # replayed batch: cells must not double (manual store with pinned
    # batch ids — the streamed store's epoch→file order is not
    # guaranteed to match the %3 split)
    def scored_batch(b: int):
        return emb.filter(F.col("vec_id") % 3 == b).select(
            F.when(F.col("label") == 0, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("y"),
            logreg_score(F.col("embedding"), w).alias("p"),
        )

    man = AucCellStore(spark, f"{tmp_path}/cells_manual")
    for b in range(3):
        man.add_batch(scored_batch(b), f"x{b}")
    assert {
        r["bin"]: (r["cpos"], r["cneg"])
        for r in man.cells().collect()
    } == want_cells
    man.add_batch(scored_batch(1), "x1")  # replay
    assert {
        r["bin"]: (r["cpos"], r["cneg"])
        for r in man.cells().collect()
    } == want_cells

    # empty store raises the typed error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no ingested batches"):
        AucCellStore(spark, f"{tmp_path}/nope").cells()


def test_incremental_quantile_cell_stream(spark, tmp_path):
    """L39 monitor path (r9): value batches streamed in per-file
    epochs collapse into a QuantileCellStore whose merged cells — and
    therefore the running per-group quantiles — are BIT-IDENTICAL to
    the batch q_percentile_binned machinery over the union; a
    replayed batch overwrites instead of double-counting."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.sketches import (
        QuantileCellStore,
        quantile_cells,
        quantiles_from_cells,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        start_incremental_quantile_cells,
    )
    from vsphere_event_streaming_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "value"
    )
    schema = "event_id long, event_type string, value double"
    in_dir = f"{tmp_path}/in_q"
    for b in range(3):
        ev.filter(F.col("event_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_quantile_cells(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/qcells",
        f"{tmp_path}/qckpt",
        schema=schema,
        max_files_per_trigger=1,  # one epoch per batch dir
    )
    q.awaitTermination(120)
    store = QuantileCellStore(spark, f"{tmp_path}/qcells")

    want_cells = {
        (r["event_type"], r["qb"]): r["cnt"]
        for r in quantile_cells(ev).collect()
    }
    got_cells = {
        (r["event_type"], r["qb"]): r["cnt"]
        for r in store.cells().collect()
    }
    assert got_cells == want_cells

    def key(rows):
        return {
            r["event_type"]: (
                r["n"], r["p50_bin"], r["p90_bin"], r["p99_bin"]
            )
            for r in rows
        }

    want = key(quantiles_from_cells(quantile_cells(ev)).collect())
    got = key(store.quantiles().collect())
    assert got == want and got

    # replayed batch: cells must not double (pinned batch ids)
    man = QuantileCellStore(spark, f"{tmp_path}/qcells_manual")
    for b in range(3):
        man.add_batch(ev.filter(F.col("event_id") % 3 == b), f"x{b}")
    man.add_batch(ev.filter(F.col("event_id") % 3 == 1), "x1")  # replay
    assert {
        (r["event_type"], r["qb"]): r["cnt"]
        for r in man.cells().collect()
    } == want_cells

    # empty / marker-less store raises the typed error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no ingested batches"):
        QuantileCellStore(spark, f"{tmp_path}/qnope").cells()


def test_incremental_rate_cell_stream(spark, tmp_path):
    """T6d monitor path (r10): event batches streamed in per-file
    epochs collapse into a RateCellStore whose merged cells — and
    therefore the running anomaly table — are BIT-IDENTICAL to the
    batch q_events_anomaly machinery over the union; a replayed batch
    overwrites instead of double-counting."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.sketches import (
        RateCellStore,
        anomalies_from_cells,
        rate_cells,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        start_incremental_rate_cells,
    )
    from vsphere_event_streaming_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "ts"
    )
    schema = "event_id long, event_type string, ts timestamp"
    in_dir = f"{tmp_path}/in_r"
    for b in range(3):
        ev.filter(F.col("event_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_rate_cells(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/rcells",
        f"{tmp_path}/rckpt",
        schema=schema,
        max_files_per_trigger=1,  # one epoch per batch dir
    )
    q.awaitTermination(120)
    store = RateCellStore(spark, f"{tmp_path}/rcells")

    want_cells = {
        (r["event_type"], r["window_start_us"]): r["cnt"]
        for r in rate_cells(ev).collect()
    }
    got_cells = {
        (r["event_type"], r["window_start_us"]): r["cnt"]
        for r in store.cells().collect()
    }
    assert got_cells == want_cells and got_cells

    def key(rows):
        return {
            (r["event_type"], r["window_start_us"]): (
                r["n"], r["mean_n"], r["is_anomaly"]
            )
            for r in rows
        }

    want = key(anomalies_from_cells(rate_cells(ev)).collect())
    got = key(store.anomalies().collect())
    assert got == want and got
    # the batch split crosses cell boundaries (every bucket is hit by
    # more than one epoch) — the merge is summing, not concatenating
    assert any(c > 1 for c in want_cells.values())

    # replayed batch: cells must not double (pinned batch ids)
    man = RateCellStore(spark, f"{tmp_path}/rcells_manual")
    for b in range(3):
        man.add_batch(ev.filter(F.col("event_id") % 3 == b), f"x{b}")
    man.add_batch(ev.filter(F.col("event_id") % 3 == 1), "x1")  # replay
    assert {
        (r["event_type"], r["window_start_us"]): r["cnt"]
        for r in man.cells().collect()
    } == want_cells

    # empty / marker-less store raises the typed error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no ingested batches"):
        RateCellStore(spark, f"{tmp_path}/rnope").cells()


def test_incremental_cms_cell_stream(spark, tmp_path):
    """L27 monitor path (r10): keyed batches streamed in per-file
    epochs collapse into a CmsStore whose merged cells — and
    therefore the running sketch and every point estimate — are
    BIT-IDENTICAL to a from-scratch cms_build over the union (the
    textbook CMS cell-wise-sum merge); a replayed batch overwrites
    instead of double-counting."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.sketches import (
        CmsStore,
        cms_build,
        cms_estimate,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        start_incremental_cms_cells,
    )
    from vsphere_event_streaming_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type"
    )
    schema = "event_id long, event_type string"
    in_dir = f"{tmp_path}/in_c"
    for b in range(3):
        ev.filter(F.col("event_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_cms_cells(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/ccells",
        f"{tmp_path}/cckpt",
        schema=schema,
        key_col="event_type",
        max_files_per_trigger=1,  # one epoch per batch dir
    )
    q.awaitTermination(120)
    store = CmsStore(spark, f"{tmp_path}/ccells", key_col="event_type")

    want = cms_build(ev, "event_type")
    got = store.sketch()
    assert got == want
    # point estimates agree and upper-bound the exact counts (the
    # one-sided CMS error contract)
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert exact
    for k_, n in exact.items():
        est = store.estimate(k_)
        assert est == cms_estimate(want, k_)
        assert est >= n

    # replayed batch: cells must not double (pinned batch ids)
    man = CmsStore(spark, f"{tmp_path}/ccells_manual", key_col="event_type")
    for b in range(3):
        man.add_batch(ev.filter(F.col("event_id") % 3 == b), f"x{b}")
    man.add_batch(ev.filter(F.col("event_id") % 3 == 1), "x1")  # replay
    assert man.sketch() == want

    # empty / marker-less store raises the typed error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no ingested batches"):
        CmsStore(spark, f"{tmp_path}/cnope", key_col="event_type").cells()


def test_incremental_activity_stream(spark, tmp_path):
    """T6f retention path (r10): event batches streamed in per-file
    epochs collapse into an ActivityStore whose merged distinct rows
    — and therefore the running cohort-retention table — are
    BIT-IDENTICAL to the batch q_events_retention machinery over the
    union. The SET-UNION merge law: a replayed batch AND overlapping
    batches (the same (user, day) observed in two epochs) change
    nothing."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.sketches import (
        ActivityStore,
        activity_days,
        retention_from_days,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        start_incremental_activity,
    )
    from vsphere_event_streaming_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "ts"
    )
    schema = "event_id long, user_id long, ts timestamp"
    in_dir = f"{tmp_path}/in_a"
    # OVERLAPPING batches on purpose: epoch b holds events with
    # event_id % 3 in {b, (b+1)%3} — every (user, day) cell is seen
    # by two epochs, so only a set-union merge stays correct
    for b in range(3):
        ev.filter(
            (F.col("event_id") % 3 == b)
            | (F.col("event_id") % 3 == (b + 1) % 3)
        ).write.mode("overwrite").parquet(f"{in_dir}/part{b}")
    q = start_incremental_activity(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/acts",
        f"{tmp_path}/ackpt",
        schema=schema,
        max_files_per_trigger=1,  # one epoch per batch dir
    )
    q.awaitTermination(120)
    store = ActivityStore(spark, f"{tmp_path}/acts")

    want_days = {
        (r["user_id"], r["d"]) for r in activity_days(ev).collect()
    }
    got_days = {(r["user_id"], r["d"]) for r in store.days().collect()}
    assert got_days == want_days and got_days

    def key(rows):
        return {
            (r["cohort_day_us"], r["day_offset"]): r["n_users"]
            for r in rows
        }

    want = key(retention_from_days(activity_days(ev)).collect())
    got = key(store.retention().collect())
    assert got == want and got

    # replayed batch: the set must not change (pinned batch ids)
    man = ActivityStore(spark, f"{tmp_path}/acts_manual")
    for b in range(3):
        man.add_batch(ev.filter(F.col("event_id") % 3 == b), f"x{b}")
    man.add_batch(ev.filter(F.col("event_id") % 3 == 1), "x1")  # replay
    assert {
        (r["user_id"], r["d"]) for r in man.days().collect()
    } == want_days

    # empty / marker-less store raises the typed error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no ingested batches"):
        ActivityStore(spark, f"{tmp_path}/anope").days()


def test_incremental_shingle_df_stream(spark, tmp_path):
    """L41 monitor path (r9): doc batches streamed in per-file epochs
    collapse into a ShingleDfStore whose merged df table — and
    therefore the per-doc novelty of the ingested corpus — is
    BIT-IDENTICAL to the batch q_ngram_novelty over the union; a
    replayed batch overwrites instead of double-counting."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.dedup import (
        ShingleDfStore,
        shingle_df_cells,
    )
    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        q_ngram_novelty,
    )
    from vsphere_event_streaming_spark.streaming.dedup_stream import (
        start_incremental_shingle_df,
    )
    from vsphere_event_streaming_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    in_dir = f"{tmp_path}/in_sdf"
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_shingle_df(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/sdf",
        f"{tmp_path}/sdf_ckpt",
        max_files_per_trigger=1,  # one epoch per batch dir
    )
    q.awaitTermination(180)
    store = ShingleDfStore(spark, f"{tmp_path}/sdf")

    want_df = {
        r["sh"]: r["df"] for r in shingle_df_cells(docs).collect()
    }
    got_df = {r["sh"]: r["df"] for r in store.df_table().collect()}
    assert got_df == want_df and got_df

    def key(rows):
        return {
            r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
            for r in rows
        }

    want = key(q_ngram_novelty(spark, "/root/testdata/sf0.001").collect())
    got = key(store.novelty(docs).collect())
    assert got == want and got

    # replayed batch: cells must not double (pinned batch ids), and
    # direct multi-batch ingestion must not accumulate persisted
    # shingle frames in the module cache registry (ADVICE r9: only
    # the streaming wrapper released per epoch; add_batch now
    # unpersists exactly the frames it registered)
    from vsphere_event_streaming_spark import state

    state.release_cached()  # the novelty reads above are consumed
    man = ShingleDfStore(spark, f"{tmp_path}/sdf_manual")
    for b in range(3):
        man.add_batch(docs.filter(F.col("doc_id") % 3 == b), f"x{b}")
    man.add_batch(docs.filter(F.col("doc_id") % 3 == 1), "x1")  # replay
    assert state.release_cached() == 0, (
        "ShingleDfStore.add_batch leaked persisted frames into the registry"
    )
    assert {
        r["sh"]: r["df"] for r in man.df_table().collect()
    } == want_df

    # empty store raises the typed error
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no ingested batches"):
        ShingleDfStore(spark, f"{tmp_path}/sdf_nope").df_table()


def test_incremental_term_stats_stream(spark, tmp_path):
    """TermStatsStore (the 9th store family, r10): doc batches
    streamed in per-file epochs collapse into additive BM25 corpus
    cells whose merged stats — and therefore the BM25 scores of the
    ingested corpus — are BIT-IDENTICAL to the batch bm25_scores
    over the union; a replayed batch overwrites instead of
    double-counting; an empty store raises the typed error."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.text import TermStatsStore
    from vsphere_event_streaming_spark.queries.advanced_queries import (
        bm25_scores,
    )
    from vsphere_event_streaming_spark.streaming.dedup_stream import (
        start_incremental_term_stats,
    )
    from vsphere_event_streaming_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    in_dir = f"{tmp_path}/in_ts"
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_term_stats(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/ts",
        f"{tmp_path}/ts_ckpt",
        max_files_per_trigger=1,  # one epoch per batch dir
    )
    q.awaitTermination(180)
    store = TermStatsStore(spark, f"{tmp_path}/ts")

    # merged stats equal the batch in-plan aggregates exactly
    toks = F.split(F.lower(F.col("text")), "[^a-z]+")
    want_stats = (
        docs.select(F.size(toks).alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
        .first()
    )
    got_stats = store.stats().first()
    assert got_stats["n_docs"] == want_stats["n_docs"]
    assert got_stats["avgdl"] == want_stats["avgdl"]

    # serve path == batch scoring, bit-for-bit
    want = {
        r["doc_id"]: r["score"] for r in bm25_scores(docs).collect()
    }
    got = {r["doc_id"]: r["score"] for r in store.bm25(docs).collect()}
    assert got == want and got

    # replayed batch: cells must not double (pinned batch ids)
    man = TermStatsStore(spark, f"{tmp_path}/ts_manual")
    for b in range(3):
        man.add_batch(docs.filter(F.col("doc_id") % 3 == b), f"x{b}")
    man.add_batch(docs.filter(F.col("doc_id") % 3 == 1), "x1")  # replay
    got2 = {r["doc_id"]: r["score"] for r in man.bm25(docs).collect()}
    assert got2 == want
    # merged df table == from-scratch distinct-doc counts (all terms)
    want_df = {
        r["term"]: r["df"]
        for r in docs.select(
            "doc_id", F.explode(toks).alias("term")
        )
        .filter(F.col("term") != "")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    }
    assert {
        r["term"]: r["df"] for r in man.df_table().collect()
    } == want_df

    # empty store raises the typed error
    with _pytest.raises(ValueError, match="no ingested batches"):
        TermStatsStore(spark, f"{tmp_path}/ts_nope").df_table()


def test_incremental_exact_keepers_stream(spark, tmp_path):
    """ExactDedupStore (the 10th store family, r10): doc batches
    streamed in per-file epochs collapse into (min, sum)-mergeable
    keeper cells whose merged table is BIT-IDENTICAL to the batch
    exact_dedup_keepers over the union; a replayed batch overwrites
    instead of double-counting; an empty store raises the typed
    error. Planted cross-batch duplicates prove the MIN merge crosses
    batch boundaries (the keeper lives in a different batch than its
    copies)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.dedup import (
        ExactDedupStore,
        exact_dedup_keepers,
    )
    from vsphere_event_streaming_spark.streaming.dedup_stream import (
        start_incremental_exact_keepers,
    )
    from vsphere_event_streaming_spark.tables import load

    base = load(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    # plant cross-batch exact duplicates: doc 9001/9002 duplicate the
    # min-id doc's text but land in DIFFERENT batches (doc_id % 3)
    dup_text = base.orderBy("doc_id").first()["text"]
    extra = spark.createDataFrame(
        [(9001, dup_text), (9002, "  " + dup_text.upper() + " ")],
        "doc_id long, text string",
    )
    docs = base.unionByName(extra)

    in_dir = f"{tmp_path}/in_ek"
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_exact_keepers(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/ek",
        f"{tmp_path}/ek_ckpt",
        max_files_per_trigger=1,  # one epoch per batch dir
    )
    q.awaitTermination(180)
    store = ExactDedupStore(spark, f"{tmp_path}/ek")

    def key(rows):
        return sorted((r["keeper_id"], r["copies"]) for r in rows)

    want = key(exact_dedup_keepers(docs).collect())
    got = key(store.keepers().collect())
    assert got == want and got
    # the planted duplicates collapsed across batches onto the min id
    assert any(c >= 3 for _, c in got)
    assert all(k < 9001 for k, _ in got)

    # replayed batch: cells must not double (pinned batch ids)
    man = ExactDedupStore(spark, f"{tmp_path}/ek_manual")
    for b in range(3):
        man.add_batch(docs.filter(F.col("doc_id") % 3 == b), f"x{b}")
    man.add_batch(docs.filter(F.col("doc_id") % 3 == 1), "x1")  # replay
    assert key(man.keepers().collect()) == want

    # empty store raises the typed error
    with _pytest.raises(ValueError, match="no ingested batches"):
        ExactDedupStore(spark, f"{tmp_path}/ek_nope").keepers()


def test_incremental_ivfpq_store_and_stream(spark, tmp_path):
    """The 14th store family (VERDICT_r10 #3): under FROZEN coarse
    cells + FROZEN PQ codebooks, (1) an IvfPqStore fed two disjoint
    batches probes IDENTICALLY to a from-scratch write_ivfpq_index
    over the union; (2) a replayed batch overwrites instead of
    doubling; (3) the stage-1 probe over the merged store prunes on
    centroid_id and reads codes, not raw vectors; (4) the foreachBatch
    ingest reaches the same merged index as manual add_batch calls;
    (5) the recall floor vs exact cosine top-10 is unchanged (>= 5/10,
    the IVF family floor)."""
    import re

    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.kmeans import (
        kmeans_centroid_frame,
        train_kmeans,
    )
    from vsphere_event_streaming_spark.functions.vectors import (
        IvfPqStore,
        ivfpq_topk,
        knn_topk,
        min_id_query_split,
        pq_fit,
        write_ivfpq_index,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        start_incremental_ivfpq,
    )
    from vsphere_event_streaming_spark.tables import spread

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec, corpus = min_id_query_split(emb)
    books = pq_fit(spread(emb))
    centroids = kmeans_centroid_frame(spark, train_kmeans(emb, k=8, iters=4))

    # from-scratch rebuild over the union = the parity oracle
    rebuilt = f"{tmp_path}/rebuilt"
    write_ivfpq_index(corpus, centroids, books, 64, rebuilt)
    want = [
        (r["vec_id"], r["score"])
        for r in ivfpq_topk(
            spark, rebuilt, centroids, qvec, books, 64, k=10, nprobe=3
        ).collect()
    ]

    # (1) two doc-disjoint batches into the store
    cut = corpus.approxQuantile("vec_id", [0.5], 0.0)[0]
    b1 = corpus.filter(F.col("vec_id") <= cut)
    b2 = corpus.filter(F.col("vec_id") > cut)
    store = IvfPqStore(spark, f"{tmp_path}/store", centroids, books, 64)
    n1 = store.add_batch(b1, "b1")
    n2 = store.add_batch(b2, "b2")
    assert n1 + n2 == corpus.count()
    got_df = store.search(qvec, k=10, nprobe=3)
    got = [(r["vec_id"], r["score"]) for r in got_df.collect()]
    assert got == want

    # (2) replayed batch: same rows, same probe
    store.add_batch(b2, "b2")
    assert spark.read.parquet(f"{tmp_path}/store").count() == n1 + n2
    assert [
        (r["vec_id"], r["score"])
        for r in store.search(qvec, k=10, nprobe=3).collect()
    ] == want

    # (3) stage-1 economics over the merged store: partition pruning
    # across batch directories + codes-only ReadSchema
    pruned = spark.read.parquet(f"{tmp_path}/store").filter(
        F.col("centroid_id").isin([0, 1, 2])
    )
    stage1 = pruned.select("vec_id", "pq_codes")
    plan = stage1._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*centroid_id#\d+ IN \(", plan), plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "pq_codes" in m.group(1), plan
    assert "embedding" not in m.group(1), m.group(1)

    # (4) foreachBatch ingest parity (per-file epochs)
    in_dir = f"{tmp_path}/in"
    b1.write.mode("overwrite").parquet(f"{in_dir}/part0")
    b2.write.mode("overwrite").parquet(f"{in_dir}/part1")
    q = start_incremental_ivfpq(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/streamed",
        f"{tmp_path}/ckpt",
        centroids,
        books,
        64,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    streamed = IvfPqStore(
        spark, f"{tmp_path}/streamed", centroids, books, 64
    )
    assert [
        (r["vec_id"], r["score"])
        for r in streamed.search(qvec, k=10, nprobe=3).collect()
    ] == want

    # (5) recall floor unchanged
    exact = {r["vec_id"] for r in knn_topk(corpus, qvec, k=10).collect()}
    assert len(exact & {v for v, _ in got}) >= 5, (sorted(exact), got)


def test_ivfpq_store_assert_disjoint_catches_overlap(spark, tmp_path):
    """The batch-overlap contract (SCALE.md, VERDICT_r10 #4): the
    id-keyed stores require doc-disjoint batches — a replayed
    batch_id is idempotent (overwrite), but the same vec_ids under a
    NEW batch_id would duplicate index rows. assert_disjoint=True
    turns that violation into a loud typed error; the overlap-free
    path stays clean under the knob."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.kmeans import (
        kmeans_centroid_frame,
        train_kmeans,
    )
    from vsphere_event_streaming_spark.functions.vectors import (
        IvfPqStore,
        pq_fit,
    )
    from vsphere_event_streaming_spark.tables import spread

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = pq_fit(spread(emb))
    centroids = kmeans_centroid_frame(spark, train_kmeans(emb, k=4, iters=2))
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)

    store = IvfPqStore(spark, f"{tmp_path}/idx", centroids, books, 64)
    store.add_batch(b1, "b1", assert_disjoint=True)
    # disjoint second batch passes under the knob
    store.add_batch(b2, "b2", assert_disjoint=True)
    # replaying b2 under its OWN id stays legal (idempotent overwrite)
    store.add_batch(b2, "b2", assert_disjoint=True)
    # ... but the same rows under a NEW batch_id is the failure mode
    with _pytest.raises(ValueError, match="doc-disjoint"):
        store.add_batch(b2, "b3", assert_disjoint=True)
    # and without the knob the overlap is silently additive — the
    # documented default (manifest owns disjointness): count doubles
    n_before = spark.read.parquet(f"{tmp_path}/idx").count()
    store.add_batch(b2, "b3")
    assert (
        spark.read.parquet(f"{tmp_path}/idx").count()
        == n_before + b2.count()
    )


def test_incremental_bloom_store_and_stream(spark, tmp_path):
    """The 15th store family (r11), second SET-UNION family: (1) a
    BloomStore fed two batches merges to EXACTLY the batch bloom_bits
    over the union; (2) set-union semantics — OVERLAPPING batches
    (same keys under different batch_ids) converge to the same filter
    (the contract the count-additive families do NOT have); (3) a
    replayed batch_id overwrites; (4) membership over the merged
    filter has no false negatives and agrees with the batch
    membership; (5) the foreachBatch shingle ingest reaches the same
    merged filter as the batch build; (6) an empty store raises the
    typed error."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.dedup import (
        shingle_hash_arrays,
    )
    from vsphere_event_streaming_spark.state import release_cached
    from vsphere_event_streaming_spark.functions.sketches import (
        BloomStore,
        bloom_bits,
        bloom_membership,
    )
    from vsphere_event_streaming_spark.streaming.dedup_stream import (
        start_incremental_bloom,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    keys = (
        shingle_hash_arrays(docs)
        .select(F.explode("sh_arr").alias("key"))
        .distinct()
    ).localCheckpoint(eager=True)
    release_cached()
    want_bits = {r["pos"] for r in bloom_bits(keys, "key").collect()}

    b1 = keys.filter(F.col("key") % 2 == 0)
    b2 = keys.filter(F.col("key") % 2 == 1)
    # overlap slice: b3 re-ingests half of b1's keys under a new id
    b3 = keys.filter(F.col("key") % 4 == 0)

    store = BloomStore(spark, f"{tmp_path}/bloom")
    store.add_batch(b1, "b1")
    store.add_batch(b2, "b2")
    assert {r["pos"] for r in store.bits().collect()} == want_bits
    # (2) overlapping ingest: the merged filter is unchanged
    store.add_batch(b3, "b3")
    assert {r["pos"] for r in store.bits().collect()} == want_bits
    # (3) replayed batch_id: unchanged
    store.add_batch(b2, "b2")
    assert {r["pos"] for r in store.bits().collect()} == want_bits

    # (4) membership: every ingested key hits (no false negatives),
    # and the store probe equals the batch probe row-for-row on a
    # mixed present/absent probe set
    probes = keys.limit(50).union(
        spark.range(10).select(
            (F.col("id") + 2_000_000_000).alias("key")
        )
    )
    got = {
        r["key"]: r["bloom_hit"]
        for r in store.membership(probes, "key").collect()
    }
    want = {
        r["key"]: r["bloom_hit"]
        for r in bloom_membership(
            bloom_bits(keys, "key"), probes, "key"
        ).collect()
    }
    assert got == want
    assert all(got[r["key"]] for r in keys.limit(50).collect())

    # (5) foreachBatch ingest parity (per-file epochs over documents)
    in_dir = f"{tmp_path}/in"
    for b in range(2):
        docs.filter(F.col("doc_id") % 2 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_bloom(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/bloom_streamed",
        f"{tmp_path}/ckpt",
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    streamed = BloomStore(spark, f"{tmp_path}/bloom_streamed")
    assert {r["pos"] for r in streamed.bits().collect()} == want_bits

    # (6) empty store raises the typed error
    with _pytest.raises(ValueError, match="no ingested batches"):
        BloomStore(spark, f"{tmp_path}/nope").bits()


def test_activity_store_stickiness_parity(spark, tmp_path):
    """ActivityStore.stickiness() over two overlapping batches must be
    bit-identical to the batch q_events_stickiness over the corpus —
    the set-union law extended to the r11 readout (the query and the
    store share stickiness_from_days)."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.sketches import (
        ActivityStore,
    )
    from vsphere_event_streaming_spark.queries.streaming_queries import (
        q_events_stickiness,
    )
    from vsphere_event_streaming_spark.tables import load

    sf = "/root/testdata/sf0.001"
    ev = load(spark, sf, "events")
    store = ActivityStore(spark, f"{tmp_path}/act")
    store.add_batch(ev.filter(F.col("event_id") % 2 == 0), "a")
    # deliberately OVERLAPPING second batch (every third event again)
    store.add_batch(
        ev.filter(
            (F.col("event_id") % 2 == 1) | (F.col("event_id") % 3 == 0)
        ),
        "b",
    )
    want = {
        r["day_us"]: (r["dau"], r["wau"], r["stickiness"])
        for r in q_events_stickiness(spark, sf).collect()
    }
    got = {
        r["day_us"]: (r["dau"], r["wau"], r["stickiness"])
        for r in store.stickiness().collect()
    }
    assert got == want


def test_incremental_mrl_store_and_stream(spark, tmp_path):
    """The 16th store family (VERDICT_r11 #4): the Matryoshka
    prefix-column index grows batch-by-batch. (1) An MrlStore fed two
    doc-disjoint batches probes IDENTICALLY (row-for-row, scores
    included) to a from-scratch write_mrl_index over the union — the
    prefix projection is a pure per-row function, so batch ≡
    incremental by construction; (2) a replayed batch_id overwrites
    instead of doubling; (3) the stage-1 scan over the merged store
    reads the prefix column and NOT the full embedding (parquet
    column pruning preserved across batch directories); (4) the
    foreachBatch ingest reaches the same merged index as manual
    add_batch calls; (5) an empty store raises the typed
    store-family error."""
    import re

    import pytest as _pytest
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.vectors import (
        MrlStore,
        min_id_query_split,
        mrl_topk_indexed,
        write_mrl_index,
    )
    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        MRL_PREFIX,
        MRL_SHORTLIST,
    )
    from vsphere_event_streaming_spark.streaming.model_stream import (
        start_incremental_mrl,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec, corpus = min_id_query_split(emb)

    # from-scratch rebuild over the union = the parity oracle
    rebuilt = f"{tmp_path}/rebuilt"
    write_mrl_index(corpus, MRL_PREFIX, rebuilt)
    want = [
        (r["vec_id"], r["score"])
        for r in mrl_topk_indexed(
            spark, rebuilt, qvec, MRL_PREFIX, k=10,
            shortlist=MRL_SHORTLIST,
        ).collect()
    ]

    # (5) typed empty error before any ingest
    store = MrlStore(spark, f"{tmp_path}/store", MRL_PREFIX)
    with _pytest.raises(ValueError, match="no ingested batches"):
        store.search(qvec)

    # (1) two doc-disjoint batches into the store
    cut = corpus.approxQuantile("vec_id", [0.5], 0.0)[0]
    b1 = corpus.filter(F.col("vec_id") <= cut)
    b2 = corpus.filter(F.col("vec_id") > cut)
    n1 = store.add_batch(b1, "b1")
    n2 = store.add_batch(b2, "b2")
    assert n1 + n2 == corpus.count()
    got = [
        (r["vec_id"], r["score"])
        for r in store.search(qvec, k=10, shortlist=MRL_SHORTLIST).collect()
    ]
    assert got == want

    # (2) replayed batch: same rows, same probe
    store.add_batch(b2, "b2")
    assert spark.read.parquet(f"{tmp_path}/store").count() == n1 + n2
    assert [
        (r["vec_id"], r["score"])
        for r in store.search(qvec, k=10, shortlist=MRL_SHORTLIST).collect()
    ] == want

    # (3) stage-1 economics ON THE EXECUTED PROBE PLAN (ADVICE r12:
    # the old assertion inspected a hand-built select, which generic
    # parquet pruning passes — it could not catch a regression that
    # made the store's own stage 1 read full vectors). Run
    # store.search itself and split its executed plan's scans by
    # location: among the scans OF THE STORE PATH, the shortlist
    # stage must read prefix WITHOUT embedding, and the rerank stage
    # reads embedding WITHOUT prefix.
    probe = store.search(qvec, k=10, shortlist=MRL_SHORTLIST)
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # classify scans by SCHEMA, not by path: the 'prefix' column
    # exists only in the store layout, and plan Location strings
    # truncate on long pytest tmp dirs (a path match here was flaky
    # across pytest run numbers — observed green then red on the
    # identical code)
    schemas = {
        m.group(1)
        for chunk in plan.split("Scan parquet")[1:]
        if (m := re.search(r"ReadSchema: (\S+)", chunk))
    }
    assert schemas, plan
    # the stage-1 shortlist scan reads prefix WITHOUT embedding...
    assert [
        s for s in schemas if "prefix" in s and "embedding" not in s
    ], schemas
    # ...and NO scan reads prefix AND embedding together — exactly
    # the stage-1-reads-full-vectors regression this guards
    assert not [
        s for s in schemas if "prefix" in s and "embedding" in s
    ], schemas

    # (4) foreachBatch ingest parity (per-file epochs)
    in_dir = f"{tmp_path}/in"
    b1.write.mode("overwrite").parquet(f"{in_dir}/part0")
    b2.write.mode("overwrite").parquet(f"{in_dir}/part1")
    q = start_incremental_mrl(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/streamed",
        f"{tmp_path}/ckpt",
        MRL_PREFIX,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    streamed = MrlStore(spark, f"{tmp_path}/streamed", MRL_PREFIX)
    assert [
        (r["vec_id"], r["score"])
        for r in streamed.search(
            qvec, k=10, shortlist=MRL_SHORTLIST
        ).collect()
    ] == want

    # disjointness knob: same rows under a NEW batch_id is the
    # failure mode, a disjoint batch passes
    with _pytest.raises(ValueError, match="doc-disjoint"):
        store.add_batch(b2, "b3", assert_disjoint=True)


def test_vector_store_ingest_survives_null_and_wrong_dim(spark, tmp_path):
    """Fuzz tier for the Arrow/codegen ingest paths of the vector
    stores (VERDICT_r11 #5): the oracled queries already see NASTY
    embeddings, but the store ingest UDFs got their NULL-vector guard
    from review, not from a test. One NULL vector and one
    wrong-dimension (short) vector must flow through BOTH vector
    stores' add_batch without crashing, land as rows (per-doc state
    is the store's identity — silently dropping a row would desync
    the manifest), and never surface in a top-k probe ahead of real
    neighbors (guarded scores)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.kmeans import (
        kmeans_centroid_frame,
        train_kmeans,
    )
    from vsphere_event_streaming_spark.functions.vectors import (
        IvfPqStore,
        MrlStore,
        min_id_query_split,
        pq_fit,
    )
    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        MRL_PREFIX,
    )
    from vsphere_event_streaming_spark.tables import spread

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qvec, corpus = min_id_query_split(emb)
    nasty = spark.createDataFrame(
        [
            (900001, None),               # NULL vector
            (900002, [1.0, -2.0, 3.0]),   # wrong dimension (3 of 64)
            (900003, [0.0] * 64),         # zero vector (guard -1.0)
        ],
        "vec_id long, embedding array<double>",
    )

    for name, make in (
        (
            "ivfpq",
            lambda p: IvfPqStore(
                spark,
                p,
                kmeans_centroid_frame(
                    spark, train_kmeans(emb, k=4, iters=2)
                ),
                pq_fit(spread(emb)),
                64,
            ),
        ),
        ("mrl", lambda p: MrlStore(spark, p, MRL_PREFIX)),
    ):
        store = make(f"{tmp_path}/{name}")
        n_good = store.add_batch(corpus, "b1")
        n_nasty = store.add_batch(nasty, "b2")
        assert n_nasty == 3, f"{name}: nasty rows dropped at ingest"
        assert (
            spark.read.parquet(f"{tmp_path}/{name}").count()
            == n_good + 3
        ), name
        top = store.search(qvec, k=10).collect()
        assert len(top) == 10, name
        nasty_ids = {900001, 900002, 900003}
        # guarded scoring: none of the degenerate rows may outrank
        # real neighbors (NULL/zero score as NULL/-1.0 and sink)
        assert not nasty_ids & {r["vec_id"] for r in top}, (
            name,
            [(r["vec_id"], r["score"]) for r in top],
        )


def test_incremental_group_store_and_stream(spark, tmp_path):
    """GroupStore (the 17th store family, r13, VERDICT_r12 #3):
    verified near-dup pairs streamed in per-file epochs merge into
    stored connected-component labels that are BIT-IDENTICAL to
    batch dedup_groups over the union of all ingested pairs (the
    pairs are split so components span batches — transitive merges
    must cross epoch boundaries); a replayed batch and a fully
    OVERLAPPING re-ingest both converge (min-lattice); group_sizes
    reads off the merged labels; an empty store raises the typed
    error."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.dedup import (
        GroupStore,
        jaccard_pairs,
    )
    from vsphere_event_streaming_spark.state import release_cached
    from vsphere_event_streaming_spark.operators.graph import dedup_groups
    from vsphere_event_streaming_spark.streaming.dedup_stream import (
        start_incremental_groups,
    )
    from vsphere_event_streaming_spark.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    pairs = (
        jaccard_pairs(docs, threshold=0.5)
        .localCheckpoint(eager=True)
    )
    release_cached()
    assert pairs.count() > 0, "fixture corpus must carry near-dup pairs"
    want = sorted(
        (r["doc_id"], r["group_id"]) for r in dedup_groups(pairs).collect()
    )

    # ---- streamed ingest: one epoch per file, components span epochs
    in_dir = f"{tmp_path}/in_gp"
    for b in range(3):
        pairs.filter((F.col("id_a") + F.col("id_b")) % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")
    q = start_incremental_groups(
        spark,
        in_dir + "/part*",
        f"{tmp_path}/gp",
        f"{tmp_path}/gp_ckpt",
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    store = GroupStore(spark, f"{tmp_path}/gp")
    got = sorted(
        (r["doc_id"], r["group_id"]) for r in store.labels().collect()
    )
    assert got == want and got

    # ---- histogram readout matches the label-table histogram
    sizes = {
        r["group_size"]: r["n_groups"]
        for r in store.group_sizes().collect()
    }
    from collections import Counter

    want_sizes = Counter(Counter(g for _, g in want).values())
    assert sizes == dict(want_sizes)

    # ---- manual ingest with replay AND full-overlap re-ingest
    man = GroupStore(spark, f"{tmp_path}/gp_manual")
    for b in range(3):
        man.add_batch(
            pairs.filter((F.col("id_a") + F.col("id_b")) % 3 == b),
            f"x{b}",
        )
    man.add_batch(
        pairs.filter((F.col("id_a") + F.col("id_b")) % 3 == 1), "x1"
    )  # replayed epoch (same batch_id) overwrites
    man.add_batch(pairs, "x3")  # OVERLAPPING: every pair again
    assert (
        sorted((r["doc_id"], r["group_id"]) for r in man.labels().collect())
        == want
    )

    # ---- drop_list readout ≡ the batch keep list's keep=0 rows
    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        q_dedup_keep_list,
    )

    want_drops = sorted(
        (r["doc_id"], r["group_id"])
        for r in q_dedup_keep_list(
            spark, "/root/testdata/sf0.001"
        ).filter("keep = 0").collect()
    )
    release_cached()
    assert (
        sorted(
            (r["doc_id"], r["group_id"])
            for r in store.drop_list().collect()
        )
        == want_drops
    )

    # ---- transitive merge strictly ACROSS batches (hand graph):
    # {1,2} then {3,4} then the bridge (2,3) — all four must land on
    # min id 1, proving the touched-component contraction pulls BOTH
    # historical components into the re-label
    chain = GroupStore(spark, f"{tmp_path}/gp_chain")

    def pf(rows):
        return spark.createDataFrame(
            [(a, b, 1.0) for a, b in rows],
            "id_a long, id_b long, jaccard double",
        )

    chain.add_batch(pf([(1, 2)]), "c0")
    chain.add_batch(pf([(3, 4)]), "c1")
    assert {
        r["doc_id"]: r["group_id"] for r in chain.labels().collect()
    } == {1: 1, 2: 1, 3: 3, 4: 3}
    chain.add_batch(pf([(2, 3)]), "c2")
    assert {
        r["doc_id"]: r["group_id"] for r in chain.labels().collect()
    } == {1: 1, 2: 1, 3: 1, 4: 1}

    # ---- empty store raises the typed error
    with _pytest.raises(ValueError, match="no ingested batches"):
        GroupStore(spark, f"{tmp_path}/gp_nope").labels()


def test_text_store_ingest_survives_null_empty_cjk(spark, tmp_path):
    """Ingest-path fuzz for the TEXT/SKETCH stores (VERDICT_r12 #4 —
    the r12 vector-store fuzz caught a real ragged-np.stack crash;
    same treatment here): a batch holding a NULL text, an empty
    string, a whitespace-only row, and a CJK-only row must flow
    through TermStatsStore / ShingleDfStore / ExactDedupStore /
    BpeVocab ingest (and the BloomStore shingle path) without
    crashing, AND the merged readout must still equal the batch
    operator over the union — nasty rows may not poison parity for
    the normal rows ingested beside them."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.bpe import BpeVocab
    from vsphere_event_streaming_spark.functions.dedup import (
        ExactDedupStore,
        ShingleDfStore,
        exact_dedup_keepers,
        shingle_df_cells,
        shingle_hash_arrays,
    )
    from vsphere_event_streaming_spark.state import release_cached
    from vsphere_event_streaming_spark.functions.bpe import word_vocab
    from vsphere_event_streaming_spark.functions.sketches import BloomStore
    from vsphere_event_streaming_spark.functions.text import TermStatsStore

    nasty = spark.createDataFrame(
        [
            (9101, None),
            (9102, ""),
            (9103, " \t\n  "),
            (9104, "中文文本也要安全通过摄取路径"),
            (9105, "mixed 中文 and english words"),
        ],
        "doc_id long, text string",
    )
    normal = spark.createDataFrame(
        [
            (9201, "the quick brown fox jumps over the lazy dog"),
            (9202, "the quick brown fox jumps over the lazy dog"),
            (9203, "plain english filler text for parity checking"),
        ],
        "doc_id long, text string",
    )
    union = nasty.unionByName(normal)

    # --- TermStatsStore: merged cells ≡ one-batch-over-union cells
    ts = TermStatsStore(spark, f"{tmp_path}/fz_ts")
    ts.add_batch(nasty, "n0")
    ts.add_batch(normal, "n1")
    one = TermStatsStore(spark, f"{tmp_path}/fz_ts_one")
    one.add_batch(union, "all")
    assert sorted(
        (r["term"], r["df"]) for r in ts.df_table().collect()
    ) == sorted((r["term"], r["df"]) for r in one.df_table().collect())
    s2, s1 = ts.stats().first(), one.stats().first()
    assert (s2["n_docs"], s2["avgdl"]) == (s1["n_docs"], s1["avgdl"])

    # --- ShingleDfStore: merged df table ≡ batch cells over union
    sd = ShingleDfStore(spark, f"{tmp_path}/fz_sd")
    sd.add_batch(nasty, "n0")
    sd.add_batch(normal, "n1")
    want_df = sorted(
        (r["sh"], r["df"]) for r in shingle_df_cells(union).collect()
    )
    release_cached()
    assert (
        sorted((r["sh"], r["df"]) for r in sd.df_table().collect())
        == want_df
    )

    # --- ExactDedupStore: keepers ≡ batch exact_dedup_keepers(union)
    ek = ExactDedupStore(spark, f"{tmp_path}/fz_ek")
    ek.add_batch(nasty, "n0")
    ek.add_batch(normal, "n1")
    assert sorted(
        (r["keeper_id"], r["copies"]) for r in ek.keepers().collect()
    ) == sorted(
        (r["keeper_id"], r["copies"])
        for r in exact_dedup_keepers(union).collect()
    )

    # --- BpeVocab: merged vocabulary ≡ word_vocab(union)
    bv = BpeVocab(spark, f"{tmp_path}/fz_bv")
    bv.add_batch(nasty, "n0")
    bv.add_batch(normal, "n1")
    assert sorted(
        (r["word"], r["cnt"]) for r in bv.vocab().collect()
    ) == sorted((r["word"], r["cnt"]) for r in word_vocab(union).collect())

    # --- BloomStore via the shingle path (the streaming wrapper's
    # exact ingest shape): nasty batch first, then normal — a normal
    # shingle must probe as present afterwards
    bs = BloomStore(spark, f"{tmp_path}/fz_bs")
    for i, batch in enumerate((nasty, normal)):
        sh = (
            shingle_hash_arrays(batch)
            .select(F.explode("sh_arr").alias("sh"))
            .distinct()
        )
        bs.add_batch(sh, batch_id=f"n{i}", key_col="sh")
        release_cached()
    probe = (
        shingle_hash_arrays(normal)
        .select(F.explode("sh_arr").alias("sh"))
        .distinct()
    )
    hits = bs.membership(probe, key_col="sh").filter("bloom_hit").count()
    want_hits = probe.count()
    release_cached()
    assert hits == want_hits > 0


def test_incremental_hll_store(spark, tmp_path):
    """HllStore (the 18th store family, r13): per-day distinct-user
    registers ingested in two OVERLAPPING batches (event-id split —
    most users appear in both halves, so the per-bucket MAX merge is
    load-bearing, not decorative) read out estimates BIT-IDENTICAL
    to the batch hll_estimates over the union; a replayed batch and
    a full overlapping re-ingest both converge (max-lattice); the
    estimates track the exact per-day distinct counts within the
    family's error bound; an empty store raises the typed error."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.sketches import (
        HllStore,
        hll_cells,
        hll_estimates,
    )
    from vsphere_event_streaming_spark.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    base = ev.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.floor(F.unix_micros("ts") / F.lit(86_400_000_000.0))
        .cast("long")
        .alias("d"),
        "user_id",
    )
    want = sorted(
        (r["d"], r["est_distinct"])
        for r in hll_estimates(
            hll_cells(base, "user_id", ["d"]), ["d"]
        ).collect()
    )

    store = HllStore(spark, f"{tmp_path}/hll", "user_id", ["d"])
    with _pytest.raises(ValueError, match="no ingested batches"):
        store.estimates()
    ids = ev.select("event_id", "ts", "user_id")
    for b in range(2):
        batch = ids.filter(F.col("event_id") % 2 == b).select(
            F.floor(F.unix_micros("ts") / F.lit(86_400_000_000.0))
            .cast("long")
            .alias("d"),
            "user_id",
        )
        store.add_batch(batch, f"h{b}")

    def got():
        return sorted(
            (r["d"], r["est_distinct"])
            for r in store.estimates().collect()
        )

    assert got() == want and want
    # replayed epoch (same batch_id) and full-overlap re-ingest both
    # converge — registers can only stay or grow to the union MAX
    store.add_batch(
        ids.filter(F.col("event_id") % 2 == 1).select(
            F.floor(F.unix_micros("ts") / F.lit(86_400_000_000.0))
            .cast("long")
            .alias("d"),
            "user_id",
        ),
        "h1",
    )
    store.add_batch(base, "h2")  # every row again
    assert got() == want

    # accuracy: each day's estimate within 3x the 1.04/sqrt(m) bound
    exact = {
        r["d"]: r["n"]
        for r in base.groupBy("d")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for d, est in want:
        assert abs(est - exact[d]) / exact[d] < 0.20, (d, est, exact[d])


def test_group_store_random_batches_match_union_find(spark, tmp_path):
    """Randomized adversarial check for the GroupStore contraction:
    random small graphs, random OVERLAPPING batch partitions of the
    edge set, random ingest order — after every full ingest the
    merged labels must equal an independent pure-Python union-find's
    min-id components over the edge union (the test_graph.py
    reference discipline, pointed at the incremental path)."""
    import random

    from vsphere_event_streaming_spark.functions.dedup import GroupStore

    def uf_labels(n_vertices, edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in parent}

    rng = random.Random(13)
    for trial in range(3):
        vertices = list(range(1, 13))
        pool = [
            (a, b)
            for i, a in enumerate(vertices)
            for b in vertices[i + 1 :]
        ]
        edges = rng.sample(pool, rng.randint(4, 10))
        # random batches WITH overlap: every edge lands in >= 1 batch,
        # some in several
        n_batches = rng.randint(2, 4)
        batches = [[] for _ in range(n_batches)]
        for e in edges:
            for bi in rng.sample(
                range(n_batches), rng.randint(1, n_batches)
            ):
                batches[bi].append(e)
        rng.shuffle(batches)
        store = GroupStore(spark, f"{tmp_path}/rgs{trial}")
        for bi, batch in enumerate(batches):
            if not batch:
                continue
            df = spark.createDataFrame(
                [(a, b, 1.0) for a, b in batch],
                "id_a long, id_b long, jaccard double",
            )
            store.add_batch(df, f"t{trial}b{bi}")
        got = {
            r["doc_id"]: r["group_id"] for r in store.labels().collect()
        }
        assert got == uf_labels(12, edges), (trial, edges, batches)


def test_hll_registers_match_python_reference(spark):
    """Three-way discipline for the HLL (the DuckDB oracle is the
    second implementation; this pure-Python one — hashlib md5, no
    shared code — is the third): register cells AND the final
    estimate must match exactly for a mixed key set, including the
    linear-counting small-range branch."""
    import hashlib
    import math

    from vsphere_event_streaming_spark.functions.sketches import (
        HLL_ALPHA_M2,
        HLL_M,
        HLL_P,
        HLL_RANK_MAX,
        hll_cells,
        hll_estimates,
    )

    keys = [str(i * 37) for i in range(500)] + ["a", "b", "中文", ""]

    def ref_registers(ks):
        regs = {}
        for k in ks:
            h = int(hashlib.md5(k.encode()).hexdigest()[:15], 16)
            bucket = h & (HLL_M - 1)
            w = h >> HLL_P
            rank = (
                HLL_RANK_MAX - (w.bit_length())
                if w > 0
                else HLL_RANK_MAX
            )
            regs[bucket] = max(regs.get(bucket, 0), rank)
        return regs

    def ref_estimate(regs):
        z = sum(1 << (HLL_RANK_MAX - r) for r in regs.values())
        v = HLL_M - len(regs)
        z += v * (1 << HLL_RANK_MAX)
        raw = HLL_ALPHA_M2 * float(1 << HLL_RANK_MAX) / float(z)
        if raw <= 2.5 * HLL_M and v > 0:
            return round(float(HLL_M) * math.log(float(HLL_M) / v), 4)
        return round(raw, 4)

    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got_regs = {
        r["bucket"]: r["r"] for r in hll_cells(df, "k").collect()
    }
    want_regs = ref_registers(keys)
    assert got_regs == want_regs
    got_est = hll_estimates(hll_cells(df, "k")).first()["est_distinct"]
    assert got_est == ref_estimate(want_regs)
    # and the estimate is sane for the true cardinality
    assert abs(got_est - len(set(keys))) / len(set(keys)) < 0.15
