"""Workload ``ingest_ref``: scheduled upstream → ``start_ingest`` → sink,
with one watch client tailing the served log from "now".

Open loop. Key *k* of the upstream becomes readable at its due time and
carries that time as ``created_time``:

- three pages (keys 0..149) are readable at once: committing the first,
  the process's first micro-batch, is the ingest's set-up; the other
  two warm the engine up;
- a restart backlog of ``BACKLOG`` events is due at schedule start t0;
- then a steady ``RATE`` events/s from t0 + ``STEADY_START`` until
  t0 + ``--seconds``.

Event latency is due time → sink commit, where commit is the progress
record's trigger start + ``triggerExecution`` and the batch's keys are its
source offset range.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time
from collections import Counter

from pyspark.sql.streaming import StreamingQueryListener
from vsphere_event_streaming_spark.sources.poll_source import (
    PollStreamReader,
    VCenterPollDataSource,
)

from .common import median_or_zero, percentile, tail

SEED_PAGE = 50
WARM_PAGES = 3  # readable at once: the first is set-up, the rest warm-up
SEED = WARM_PAGES * SEED_PAGE
PAGE = 50  # the reference's poll page
BACKLOG = 400
RATE = 12.5  # events/s, a quarter of the reference's 50 ev/s ceiling
STEADY_START = 10.0
SEGMENT_SIZE = 1000  # reference LOG_MAX_SEGMENT_SIZE default
MAX_RECORD_SIZE = 524288  # reference LOG_MAX_RECORD_SIZE_BYTES default
GRACE_S = 30.0
WATCH_TAIL_S = 4.0  # watch stays connected this long past the schedule
_TYPES = ("click", "view", "purchase", "signup", "error")
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


class Schedule:
    """Due times of the upstream's keys, relative to schedule start t0."""

    def __init__(self, seconds: float) -> None:
        self.first_steady = SEED + BACKLOG
        n_steady = max(0, int((seconds - STEADY_START) * RATE))
        self.total = self.first_steady + n_steady

    def due(self, key: int, t0: float) -> float:
        if key < self.first_steady:
            return t0
        return t0 + STEADY_START + (key - self.first_steady) / RATE

    def available(self, now: float, t0: float | None) -> int:
        """Number of keys due by ``now`` (the warm pages before t0)."""
        if t0 is None or now < t0:
            return SEED
        if now < t0 + STEADY_START:
            return self.first_steady
        n = int((now - t0 - STEADY_START) * RATE) + 1
        return min(self.total, self.first_steady + n)


class ScheduledReader(PollStreamReader):
    """The upstream: a poll page holds only keys that are already due.

    Runs in Spark's Python data-source process. Schedule start t0 is read
    from ``schedule_file`` once the benchmark writes it; when
    ``trace_file`` is set every poll appends ``time lo hi available``.
    """

    def __init__(self, options: dict) -> None:
        super().__init__(options)
        self.seconds = float(options.get("seconds", 0))
        self.schedule_file = options.get("schedule_file") or None
        self.trace_file = options.get("trace_file") or None
        self.t0: float | None = None

    def _t0(self) -> float | None:
        if self.t0 is None and self.schedule_file:
            try:
                with open(self.schedule_file) as fh:
                    self.t0 = float(json.load(fh)["t0"])
            except FileNotFoundError:
                pass
        return self.t0

    def _row(self, key: int, due: float) -> tuple:
        etype = _TYPES[key % len(_TYPES)]
        created = _EPOCH + dt.timedelta(seconds=due)
        return (key, created, etype, f"user{key % 16}", f"scheduled {etype} event {key}")

    def _rows(self, lo: int, hi: int, t0: float | None) -> list[tuple]:
        sched = Schedule(self.seconds)
        now = time.time()
        return [
            self._row(k, now if t0 is None else sched.due(k, t0))
            for k in range(lo, hi)
        ]

    def read(self, start: dict):
        now = time.time()
        t0 = self._t0()
        avail = min(self.max_key, Schedule(self.seconds).available(now, t0))
        lo = int(start["key"])
        hi = min(lo + self.page_size, avail)
        if self.trace_file:
            with open(self.trace_file, "a") as fh:
                fh.write(f"{now} {time.time()} {lo} {max(hi, lo)} {avail}\n")
        if hi <= lo:
            return iter([]), start
        return iter(self._rows(lo, hi, t0)), {"key": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._rows(int(start["key"]), int(end["key"]), self._t0()))


class ScheduledSource(VCenterPollDataSource):
    @classmethod
    def name(cls) -> str:
        return "perfbench_scheduled_poll"

    def simpleStreamReader(self, schema):
        return ScheduledReader(self.options)


class ProgressLog(StreamingQueryListener):
    """Keeps every progress record of every query, in arrival order."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self.cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        rec = json.loads(event.progress.json)
        with self.cond:
            self.records.append(rec)
            self.cond.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, run_id: str) -> list[dict]:
        with self.cond:
            recs = [r for r in self.records if r["runId"] == run_id]
        out = []
        for r in recs:
            if not r.get("numInputRows"):
                continue
            src = r["sources"][0]
            start = _ts(r["timestamp"])
            out.append(
                {
                    "batch": r["batchId"],
                    "lo": _key(src.get("startOffset")),
                    "hi": _key(src.get("endOffset")),
                    # numInputRows counts every re-scan of the page by
                    # the sink's several actions; the offset range does not
                    "rows": _key(src.get("endOffset")) - _key(src.get("startOffset")),
                    "start": start,
                    "commit": start + r["durationMs"]["triggerExecution"] / 1000.0,
                    "ms": r["durationMs"],
                }
            )
        return out

    def wait_for(self, run_id: str, pred, timeout: float) -> bool:
        deadline = time.time() + timeout
        with self.cond:
            while True:
                recs = [r for r in self.records if r["runId"] == run_id]
                if pred(recs):
                    return True
                left = deadline - time.time()
                if left <= 0:
                    return False
                self.cond.wait(min(left, 0.5))


def _ts(stamp: str) -> float:
    t = dt.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return t.replace(tzinfo=dt.timezone.utc).timestamp()


def _key(offset) -> int:
    if offset is None:
        return 0
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["key"])


def _committed_through(recs: list[dict]) -> int:
    hi = 0
    for r in recs:
        if r.get("numInputRows"):
            hi = max(hi, _key(r["sources"][0].get("endOffset")))
    return hi


def _start(ctx, name: str, max_key: int, schedule_file: str,
           trace_file: str | None, seconds: float):
    from vsphere_event_streaming_spark.streaming.ingest import start_ingest

    base = os.path.join(ctx.work, name)
    reader = (
        ctx.spark.readStream.format(ScheduledSource.name())
        .option("page_size", PAGE)
        .option("max_key", max_key)
        .option("seconds", seconds)
        .option("schedule_file", schedule_file)
        .option("trace_file", trace_file or "")
    )
    t = time.time()
    q = start_ingest(
        ctx.spark,
        reader.load(),
        os.path.join(base, "log"),
        os.path.join(base, "ckpt"),
        segment_size=SEGMENT_SIZE,
        max_record_size=MAX_RECORD_SIZE,
    )
    return q, t, os.path.join(base, "log")


def _first_commit(ctx, progress: ProgressLog, q, started: float) -> float:
    ok = progress.wait_for(
        str(q.runId), lambda recs: _committed_through(recs) >= SEED_PAGE, 120
    )
    if not ok:
        raise RuntimeError("ingest committed no first batch within 120 s")
    first = progress.batches(str(q.runId))[0]
    return first["commit"] - started


def check_sink(log_dir: str, total: int) -> dict:
    """Untimed gate: offsets dense from the first key, id ≡ offset, and
    every due key committed exactly once."""
    import pyarrow.dataset as ds

    table = ds.dataset(log_dir, format="parquet", partitioning="hive").to_table(
        columns=["offset", "key", "value"]
    )
    offsets = table.column("offset").to_pylist()
    keys = table.column("key").to_pylist()
    values = table.column("value").to_pylist()
    counts = Counter(keys)
    missing = [k for k in range(total) if k not in counts]
    duplicated = [k for k, c in counts.items() if c > 1]
    unexpected = [k for k in counts if not 0 <= k < total]
    bad_ids = sum(
        1
        for off, key, val in zip(offsets, keys, values)
        if off != key or json.loads(val)["id"] != str(off)
    )
    dense = sorted(offsets) == list(range(min(offsets, default=0),
                                          min(offsets, default=0) + len(offsets)))
    failed = len(missing) + len(duplicated) + len(unexpected) + bad_ids
    if not dense and failed == 0:
        failed = 1
    return {
        "attempted": total,
        "failed": failed,
        "missing": len(missing),
        "duplicated": len(duplicated),
        "bad_ids": bad_ids,
        "dense": dense,
        "rows": len(keys),
    }


def system(ctx) -> dict:
    from vsphere_event_streaming_spark.log.service import EventLogService
    from vsphere_event_streaming_spark.log.http_server import serve

    spark = ctx.spark
    spark.dataSource.register(ScheduledSource)
    progress = ProgressLog()
    spark.streams.addListener(progress)
    sched = Schedule(ctx.seconds)

    schedule_file = os.path.join(ctx.work, "schedule.json")
    reads_file = os.path.join(ctx.work, "reads.txt") if ctx.trace else None
    q, started, log_dir = _start(ctx, "ingest", sched.total, schedule_file,
                                 reads_file, ctx.seconds)
    first_batch_s = _first_commit(ctx, progress, q, started)
    run_id = str(q.runId)
    t = time.time()
    if not progress.wait_for(run_id, lambda recs: _committed_through(recs) >= SEED, 120):
        raise RuntimeError("ingest did not commit the warm-up pages within 120 s")
    ctx.warmup_s = time.time() - t

    server = None
    if ctx.trace:
        server = serve(EventLogService(spark.read.parquet(log_dir)))
    ctx.mark("first_batch")
    ctx.send({"type": "ready", "url": server and server.address})
    ctx.expect("go")

    t0 = time.time()
    tmp = schedule_file + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"t0": t0}, fh)
    os.replace(tmp, schedule_file)

    time.sleep(max(0.0, t0 + ctx.seconds - time.time()))
    progress.wait_for(
        run_id, lambda recs: _committed_through(recs) >= sched.total, GRACE_S
    )
    ctx.mark("schedule_and_grace")
    q.stop()
    if server is not None:
        server.stop()

    all_batches = progress.batches(run_id)
    batches = [b for b in all_batches if b["lo"] >= SEED]
    backlog_lat, steady_lat, backlog_trigger_s = [], [], []
    for b in batches:
        if b["lo"] < sched.first_steady:
            backlog_trigger_s.append(b["ms"]["triggerExecution"] / 1000.0)
        for k in range(b["lo"], b["hi"]):
            lat = b["commit"] - sched.due(k, t0)
            (backlog_lat if k < sched.first_steady else steady_lat).append(lat)
    gate = check_sink(log_dir, sched.total)
    ctx.mark("sink_checked")
    if len(backlog_lat) != BACKLOG or not steady_lat:
        gate["failed"] = max(gate["failed"], 1)
    catchup_eps = BACKLOG / max(backlog_lat) if backlog_lat else 0.0
    report = {
        "backlog_lat_p50_s": median_or_zero(backlog_lat),
        "ingest_catchup_eps": catchup_eps,
        "ingest_lat_p50_s": median_or_zero(steady_lat),
        "ingest_lat_p90_s": percentile(steady_lat, 90) if steady_lat else 0.0,
        "ingest_lat_samples": len(steady_lat),
        "batch_s": [round(b["commit"] - b["start"], 3) for b in batches],
        "batch_rows": [b["rows"] for b in batches],
    }
    result = {
        "gate": gate,
        "report": report,
        "commits": [(b["commit"], b["rows"]) for b in batches],
        "setup_unit_s": first_batch_s,
        "op_latencies": backlog_lat,
        # the events of a batch share its commit time, so a tail of the
        # backlog's event waits is its last commit (BACKLOG / ops_per_s
        # again); the tail is the slowest backlog batch's trigger instead
        "op_tail_s": max(backlog_trigger_s, default=0.0),
        "ops_per_s": catchup_eps,
    }
    if ctx.trace:
        from . import serve_ref

        result["layers"] = _layers(ctx, progress, run_id, batches,
                                   len(all_batches), log_dir, reads_file, t0)
        result["layers"].update({
            "ingest.steady_lat_p50_s": report["ingest_lat_p50_s"],
            "ingest.steady_lat_tail_s": tail(steady_lat) if steady_lat else 0.0,
        })
        # the serve phase must not share the engine with the tail's
        # still-polling watch handler
        ctx.expect("watch_done")
        result["layers"].update(serve_ref.system_phase(ctx))
        ctx.mark("serve_phase")
    return result


def _layers(ctx, progress, run_id, batches, sink_batches, log_dir, reads_file,
            t0) -> dict:
    from .sparkstats import StageReader, add_stage_spans, attribute

    tracer = ctx.tracer
    reader = StageReader(ctx.spark)
    by_batch: dict[int, list[int]] = {}
    for jid in reader.group_jobs(run_id):
        for line in reader.job_description(jid).splitlines():
            if line.startswith("batch = "):
                by_batch.setdefault(int(line.split("=")[1]), []).append(jid)
    jobs, runs, outside = [], [], []
    phases = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
              "addBatch", "commitOffsets")
    batch_spans = []
    for b in batches:
        trace = f"batch-{b['batch']}"
        bid = tracer.add("ingest.batch", b["start"], b["commit"], trace=trace,
                         rows=b["rows"])
        batch_spans.append((b["start"], b["commit"], bid, trace))
        cursor = b["start"]
        for ph in phases:
            d = b["ms"].get(ph, 0) / 1000.0
            tracer.add(f"ingest.{ph}", cursor, cursor + d, parent=bid, trace=trace)
            cursor += d
        stages = reader.stages(by_batch.get(b["batch"], []))
        add_stage_spans(tracer, stages, bid, trace)
        att = attribute(stages, b["start"], b["commit"],
                        len(by_batch.get(b["batch"], [])))
        jobs.append(att["jobs"])
        runs.append(att["exec_run_s"])
        outside.append(att["outside_stage_s"])

    lags = []
    if reads_file and os.path.exists(reads_file):
        with open(reads_file) as fh:
            for line in fh:
                t_start, t_end, lo, hi, avail = line.split()
                t_start, t_end = float(t_start), float(t_end)
                parent = next((s for s in batch_spans
                               if s[0] <= t_start and t_end <= s[1]), None)
                tracer.add("source.poll", t_start, t_end,
                           parent=parent[2] if parent else None,
                           trace=parent[3] if parent else None,
                           lo=int(lo), hi=int(hi), available=int(avail))
                if t_start >= t0:
                    lags.append(int(avail) - int(hi))

    files = len(glob.glob(os.path.join(log_dir, "**", "*.parquet"), recursive=True))

    def ms(phases):
        return [sum(b["ms"].get(p, 0) for p in phases) / 1000.0 for b in batches]

    return {
        "source.lag_events_p50": median_or_zero(lags),
        "source.lag_events_max": float(max(lags, default=0)),
        "source.rows_per_batch_p50": median_or_zero([b["rows"] for b in batches]),
        "ingest.batches": float(len(batches)),
        "ingest.trigger_p50_s": median_or_zero(ms(("triggerExecution",))),
        "ingest.plan_p50_s": median_or_zero(ms(("latestOffset", "getBatch", "queryPlanning"))),
        "ingest.commit_p50_s": median_or_zero(ms(("walCommit", "commitOffsets"))),
        "ingest.add_batch_p50_s": median_or_zero(ms(("addBatch",))),
        "ingest.jobs_per_batch": median_or_zero(jobs),
        "ingest.exec_run_per_batch_s": median_or_zero(runs),
        "ingest.outside_stage_per_batch_s": median_or_zero(outside),
        # every batch of the query, set-up and warm-up pages included,
        # wrote into this sink
        "ingest.files_per_batch": files / sink_batches,
    }


def load(ctx, system) -> dict:
    """Load-generator side. The timed run only starts the schedule; the
    traced run also tails the log from "now" during the ingest phase and
    then runs the serve phase's clients."""
    ready = system.expect("ready")
    if not ctx.trace:
        system.send({"type": "go"})
        result = system.expect("result")
        del result["commits"]
        return result

    from . import serve_ref
    from .clients import WatchClient

    # the server ends the stream by itself, once the schedule is over and
    # the last batches had time to commit
    window = ctx.seconds + WATCH_TAIL_S
    watcher = WatchClient(ready["url"], f"/api/v1/events?watch=true&max_seconds={window}",
                          timeout=window + 60)
    watcher.start()
    watcher.connected.wait(60)
    if watcher.status != 200:
        raise RuntimeError(f"watch connect failed: {watcher.status} {watcher.error}")
    time.sleep(0.5)  # the server computes its "now" cursor after the headers
    system.send({"type": "go"})
    watcher.join(window + 60)
    watcher.stop()
    system.send({"type": "watch_done"})
    serve = serve_ref.load_phase(ctx, system)
    result = system.expect("result")

    received = len(watcher.lines)
    committed = sum(n for t, n in result.pop("commits")
                    if watcher.started_at <= t <= watcher.ended_at)
    ratio = received / committed if committed else 0.0
    ctx.tracer.add("http.watch", watcher.started_at, watcher.ended_at,
                   trace="watch-tail", lines=received)
    result["report"].update(serve["report"], tail_lines_received=received,
                            tail_committed_while_connected=committed,
                            tail_delivered_ratio=ratio)
    layers = result["layers"]
    layers.update(serve["layers"])
    serve_ref.add_overheads(layers)
    layers["tail.lines_received"] = float(received)
    layers["tail.delivered_ratio"] = ratio
    for k in ("attempted", "failed"):
        result["gate"][k] += serve["gate"][k]
    return result
