"""Serve phase: closed-loop reads of a 2,000-record log.

Runs inside ``ingest_ref``'s traced run, after the ingest phase. It was a
workload of its own (``serve_ref``) until its spread was measured: at
about one request per second a 10 s window holds ~10 calls, and the
median's spread across seeds was 0.20 (see README.md).

The log is the reference's active plus history segments (2 × 1,000),
written by the program's own ingest at the reference's 50-event page, so
the served file layout is a real sink's. It depends on no seed and is
built once per checkout under ``perfbench/.work/cache``.

Four connections from the load generator:

- three clients loop over ``/range``, ``/events/:id`` and ``/events``
  (the last page); about 5% of point probes are out of range or in the
  future and must get 400;
- one client loops full replays (``?watch=true&offset=<earliest>``).
"""

from __future__ import annotations

import hashlib
import http.client
import json
import os
import random
import shutil
import threading
import time

from .common import LIBRARY, ROOT, WORK, host_cores, median, median_or_zero, percentile

N_RECORDS = 2000  # 2 × reference LOG_MAX_SEGMENT_SIZE
PAGE = 50
SEGMENT_SIZE = 1000
MAX_RECORD_SIZE = 524288
CLIENTS = 3
SETUP_PROBES = 3
INVALID_SHARE = 0.05
TRACE_CALLS = 5  # in-process calls per operation in the traced run
OPS = ("range", "point", "page")
REQUEST_TIMEOUT_S = 60.0


def mix(seed: int, client: int):
    """Endless request mix of one client: (op, offset or None).

    Every client cycles range, point, page, point (starting at a
    different place) so each run sends the same op shares; the seed picks
    the point offsets and which probes are invalid."""
    rng = random.Random(f"serve-{seed}-{client}")
    cycle = ("range", "point", "page", "point")
    i = client
    while True:
        op = cycle[i % len(cycle)]
        i += 1
        if op != "point":
            yield op, None
        elif rng.random() < INVALID_SHARE:
            if rng.random() < 0.5:
                yield op, -1 - rng.randrange(1000)
            else:
                yield op, N_RECORDS + rng.randrange(1000)
        else:
            yield op, rng.randrange(N_RECORDS)


def _library_digest() -> str:
    h = hashlib.sha256()
    base = os.path.join(ROOT, LIBRARY)
    for dirpath, dirnames, files in os.walk(base):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, base).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def cached_log_dir() -> str:
    """Where the served log of this checkout's library lives."""
    return os.path.join(WORK, "cache", f"serve_log-{N_RECORDS}-{_library_digest()}", "log")


def build_log(spark) -> str:
    """Write the served log with ``start_ingest`` at page 50, unless the
    cache already holds it."""
    from vsphere_event_streaming_spark.sources.poll_source import read_poll_stream
    from vsphere_event_streaming_spark.streaming.ingest import start_ingest

    log_dir = cached_log_dir()
    if os.path.isdir(log_dir):
        return log_dir
    final = os.path.dirname(log_dir)
    tmp = final + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    q = start_ingest(
        spark,
        read_poll_stream(spark, page_size=PAGE, max_key=N_RECORDS),
        os.path.join(tmp, "log"),
        os.path.join(tmp, "ckpt"),
        segment_size=SEGMENT_SIZE,
        max_record_size=MAX_RECORD_SIZE,
    )
    q.processAllAvailable()
    q.stop()
    os.replace(tmp, final)
    return log_dir


def sink_truth(log_dir: str) -> dict[int, str]:
    """offset → stored value, read with pyarrow (the gate's own oracle)."""
    import pyarrow.dataset as ds

    t = ds.dataset(log_dir, format="parquet", partitioning="hive").to_table(
        columns=["offset", "value"]
    )
    return dict(zip(t.column("offset").to_pylist(), t.column("value").to_pylist()))


def _first_range(url: str) -> None:
    from .clients import connect, get

    conn = connect(url, REQUEST_TIMEOUT_S)
    try:
        status, _ = get(conn, "/api/v1/range")
    finally:
        conn.close()
    if status != 200:
        raise RuntimeError(f"first /range answered {status}")


def system_phase(ctx) -> dict:
    """System side: start the server, wait for the clients, then time
    EventLogService and log.model in-process (per-layer metrics)."""
    from vsphere_event_streaming_spark.log.http_server import serve
    from vsphere_event_streaming_spark.log.model import replay_from
    from vsphere_event_streaming_spark.log.service import EventLogService

    spark = ctx.spark
    log_dir = cached_log_dir()
    if not os.path.isdir(log_dir):
        raise RuntimeError(f"serve log fixture missing: {log_dir}")
    setups, server = [], None
    for _ in range(SETUP_PROBES):
        if server is not None:
            server.stop()
        t = time.time()
        service = EventLogService(spark.read.parquet(log_dir))
        server = serve(service)
        _first_range(server.address)
        setups.append(time.time() - t)
    service.get_event(0)
    service.get_events()
    # the plan of one watch poll (log/http_server.py's _watch loop)
    replay_from(service.df, 0).limit(PAGE).collect()

    ctx.send({"type": "serve_ready", "url": server.address, "log_dir": log_dir})
    ctx.expect("serve_stop")
    server.stop()
    layers = _layers(ctx, service)
    layers["serve.setup_s"] = median(setups)
    return layers


def _layers(ctx, service) -> dict:
    """Time EventLogService and log.model in-process on the same mix."""
    from vsphere_event_streaming_spark.errors import (
        FutureOffsetError,
        OutOfRangeError,
    )
    from vsphere_event_streaming_spark.log import model

    from .sparkstats import StageReader, add_stage_spans, attribute

    sc = ctx.spark.sparkContext
    reader = StageReader(ctx.spark)
    calls = {op: [] for op in OPS}
    clients = [mix(ctx.seed, c) for c in range(CLIENTS)]
    i = 0
    while any(len(v) < TRACE_CALLS for v in calls.values()) and i < 1000:
        op, off = next(clients[i % CLIENTS])
        i += 1
        if len(calls[op]) >= TRACE_CALLS:
            continue
        group = f"perfbench-svc-{i}"
        sc.setJobGroup(group, f"perfbench {op}")
        name = {"range": "service.range", "point": "service.get_event",
                "page": "service.get_events"}[op]
        with ctx.tracer.span(name, trace=group) as sid:
            t = time.time()
            try:
                if op == "range":
                    service.range()
                elif op == "point":
                    service.get_event(off)
                else:
                    service.get_events()
            except (OutOfRangeError, FutureOffsetError):
                pass
            end = time.time()
        jobs = reader.group_jobs(group)
        stages = reader.stages(jobs)
        add_stage_spans(ctx.tracer, stages, sid, group)
        calls[op].append(attribute(stages, t, end, len(jobs)))

    df = service.df
    model_t = {"log_range": [], "point_lookup": [], "last_page": []}
    rng = random.Random(f"model-{ctx.seed}")
    for _ in range(TRACE_CALLS):
        for name, fn in (
            ("log_range", lambda: model.log_range(df).first()),
            ("point_lookup", lambda: model.point_lookup(df, rng.randrange(N_RECORDS)).first()),
            ("last_page", lambda: model.last_page(df, PAGE).collect()),
        ):
            with ctx.tracer.span(f"model.{name}", trace=f"model-{name}"):
                t = time.time()
                fn()
                model_t[name].append(time.time() - t)
    sc.setJobGroup("perfbench-idle", "")

    every = [a for v in calls.values() for a in v]
    layers = {
        "service.range_s": median(a["wall_s"] for a in calls["range"]),
        "service.get_event_s": median(a["wall_s"] for a in calls["point"]),
        "service.get_events_s": median(a["wall_s"] for a in calls["page"]),
        "service.jobs_per_range": median(a["jobs"] for a in calls["range"]),
        "service.jobs_per_get_event": median(a["jobs"] for a in calls["point"]),
        "service.jobs_per_get_events": median(a["jobs"] for a in calls["page"]),
        "model.log_range_s": median(model_t["log_range"]),
        "model.point_lookup_s": median(model_t["point_lookup"]),
        "model.last_page_s": median(model_t["last_page"]),
        "log.files": float(len(df.inputFiles())),
        "serve.exec_run_s": median(a["exec_run_s"] for a in every),
        "serve.outside_stage_s": median(a["outside_stage_s"] for a in every),
    }
    return layers


class _Client(threading.Thread):
    def __init__(self, url, seed, idx, deadline, truth, tracer) -> None:
        super().__init__(daemon=True)
        self.url, self.mix, self.deadline = url, mix(seed, idx), deadline
        self.truth, self.tracer, self.idx = truth, tracer, idx
        self.calls: list[tuple[str, float, float, bool]] = []
        self.errors: list[str] = []

    def run(self) -> None:
        from .clients import connect, get

        earliest, latest = min(self.truth), max(self.truth)
        conn = connect(self.url, REQUEST_TIMEOUT_S)
        n = 0
        try:
            while time.time() < self.deadline:
                op, off = next(self.mix)
                path = {"range": "/api/v1/range", "page": "/api/v1/events",
                        "point": f"/api/v1/events/{off}"}[op]
                n += 1
                t = time.time()
                try:
                    status, body = get(conn, path)
                    err = None
                except (OSError, http.client.HTTPException) as exc:
                    status, body, err = None, b"", f"{type(exc).__name__}: {exc}"
                    conn.close()
                    conn = connect(self.url, REQUEST_TIMEOUT_S)
                end = time.time()
                if err is None:
                    err = self._check(op, off, status, body, earliest, latest)
                if err:
                    self.errors.append(f"{op} {off}: {err}")
                self.calls.append((op, t, end, err is None))
                self.tracer.add(f"http.{op}", t, end,
                                trace=f"c{self.idx}-{n}", status=status)
        finally:
            conn.close()

    def _check(self, op, off, status, body, earliest, latest) -> str | None:
        if op == "range":
            want = {"earliest": earliest, "latest": latest}
            if status != 200 or json.loads(body) != want:
                return f"range {status} {body[:80]!r}"
        elif op == "page":
            ids = [int(e["id"]) for e in json.loads(body)] if status == 200 else None
            if ids != list(range(latest - PAGE + 1, latest + 1)):
                return f"page {status} ids {ids and (ids[0], ids[-1], len(ids))}"
        elif earliest <= off <= latest:
            if status != 200 or body.decode() != self.truth[off] or \
                    json.loads(body)["id"] != str(off):
                return f"point {status} {body[:80]!r}"
        elif status != 400:
            return f"invalid probe answered {status}"
        return None


def _replays(url, truth, deadline, tracer) -> dict:
    """Loop full replays from the earliest offset until the deadline."""
    from .clients import WatchClient

    earliest, n = min(truth), len(truth)
    lines = failures = replays = 0
    busy = 0.0
    gaps, sizes = [], []
    while time.time() < deadline - 0.5:
        budget = max(1.0, deadline - time.time())
        w = WatchClient(url, f"/api/v1/events?watch=true&offset={earliest}"
                        f"&max_seconds={budget:.3f}", want=n, timeout=budget + 30)
        w.start()
        w.join(budget + 5)
        w.stop()
        replays += 1
        got = [int(json.loads(line)["id"]) for _, line in w.lines]
        if w.status != 200 or w.error or got != list(range(earliest, earliest + len(got))):
            failures += 1
        lines += len(got)
        busy += (w.lines[-1][0] if w.lines else w.ended_at) - w.started_at
        times = [t for t, _ in w.lines]
        size = 1
        for a, b in zip(times, times[1:]):
            if b - a > 0.05:
                gaps.append(b - a)
                sizes.append(size)
                size = 0
            size += 1
        if times:
            sizes.append(size)
        tracer.add("http.watch_replay", w.started_at, w.ended_at,
                   trace=f"replay-{replays}", lines=len(got))
    return {"lines": lines, "busy_s": busy, "replays": replays,
            "failures": failures, "gaps": gaps, "sizes": sizes}


def load_phase(ctx, system) -> dict:
    """Load-generator side: the four connections for ``ctx.seconds``."""
    ready = system.expect("serve_ready")
    url = ready["url"]
    truth = sink_truth(ready["log_dir"])
    start = time.time()
    deadline = start + ctx.seconds
    clients = [_Client(url, ctx.seed, i, deadline, truth, ctx.tracer)
               for i in range(CLIENTS)]
    for c in clients:
        c.start()
    replay = _replays(url, truth, deadline, ctx.tracer)
    for c in clients:
        c.join(REQUEST_TIMEOUT_S + 10)
    calls = [c for cl in clients for c in cl.calls]
    errors = [e for cl in clients for e in cl.errors]
    end = max([c[2] for c in calls] + [time.time()])
    system.send({"type": "serve_stop"})

    lat = [e - t for _, t, e, ok in calls if ok]
    per_op = {op: [e - t for o, t, e, ok in calls if ok and o == op] for op in OPS}
    report = {
        "serve_rps": len(calls) / (end - start),
        "serve_lat_p50_s": median_or_zero(lat),
        "serve_lat_p90_s": percentile(lat, 90) if lat else 0.0,
        "serve_lat_samples": len(lat),
        "serve_range_p50_s": median_or_zero(per_op["range"]),
        "serve_point_p50_s": median_or_zero(per_op["point"]),
        "serve_page_p50_s": median_or_zero(per_op["page"]),
        "watch_replay_eps": replay["lines"] / replay["busy_s"] if replay["busy_s"] else 0.0,
        "watch_replays": replay["replays"],
        "errors": errors[:5],
    }
    return {
        "gate": {"attempted": len(calls) + replay["replays"],
                 "failed": len(errors) + replay["failures"]},
        "report": report,
        "layers": {
            "http.requests_per_s": report["serve_rps"],
            "http.lat_p50_s": report["serve_lat_p50_s"],
            "http.range_p50_s": report["serve_range_p50_s"],
            "http.point_p50_s": report["serve_point_p50_s"],
            "http.page_p50_s": report["serve_page_p50_s"],
            "watch.replay_lines_per_s": report["watch_replay_eps"],
            "watch.burst_gap_p50_s": median_or_zero(replay["gaps"]),
            "watch.lines_per_burst_p50": median_or_zero(replay["sizes"]),
        },
    }


def add_overheads(layers: dict) -> None:
    """Client latency minus in-process service time, per operation."""
    for op, svc in (("range", "range"), ("point", "get_event"), ("page", "get_events")):
        layers[f"http.{op}_overhead_p50_s"] = (
            layers[f"http.{op}_p50_s"] - layers[f"service.{svc}_s"]
        )


def main() -> int:
    """Build the served log in a process of its own (``run.py`` calls this
    before the system process starts, so the build leaves no warm state
    behind in the measured process)."""
    from vsphere_event_streaming_spark.session import get_spark

    spark = get_spark("perfbench-fixture", cpus=host_cores())
    spark.sparkContext.setLogLevel("ERROR")
    build_log(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
