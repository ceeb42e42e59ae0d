"""Watch / tail / replay over the log sink (T1-T2).

The reference's ``GET /api/v1/events?watch=true[&offset=N]``
(server.go:130-209): a chunked stream of records from offset N
(default "now" = latest+1), historical replay flowing seamlessly into
live tail in one total order — exactly Kafka-source semantics, here a
file-source stream over the sink directory.

The purged-start asymmetry (server.go:200-203) is enforced at start:
a watch from below the retained range raises OutOfRangeError, while
purged offsets *inside* a page are silently skipped (batch path,
log.service).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..log.model import log_range, watch_start
from .ingest import LOG_SCHEMA_DDL, read_sink


def watch(
    spark: SparkSession,
    log_dir: str,
    start_offset: int | None = None,
) -> DataFrame:
    """Streaming DataFrame of log records with offset >= start.

    The start is ``log.model.watch_start`` over the sink's range at
    call time: ``None``/``-1`` tails from "now" (latest+1), and a
    purged start raises ``OutOfRangeError`` — the HTTP 400 path.
    """
    earliest = latest = None
    sink = read_sink(spark, log_dir)
    if sink is not None:
        earliest, latest = log_range(sink).first()
    start = watch_start(earliest, latest, start_offset)
    stream = spark.readStream.schema(LOG_SCHEMA_DDL).parquet(log_dir)
    return stream.filter(F.col("offset") >= F.lit(int(start)))


def consume_ndjson(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """The reference CLI client's decode loop (cmd/client/main.go:79-86,
    S5): NDJSON lines → typed CloudEvent envelopes.

    Works on any DataFrame of JSON-line strings — the batch page read,
    the watch stream, or a text-file scan of captured output — and
    returns the envelope fields flattened for consumption.
    """
    from ..operators.envelope import decode_envelope_json

    decoded = decode_envelope_json(lines, value_col)
    return decoded.select(
        F.col("event.id").alias("id"),
        F.col("event.type").alias("type"),
        F.col("event.eventclass").alias("eventclass"),
        F.col("event.time").alias("time"),
        F.col("event.data.Key").alias("key"),
        F.col(value_col).alias("raw"),
    )


def http_watch_lines(
    url: str,
    offset: int | None = None,
    max_seconds: float | None = None,
    timeout: float = 30.0,
) -> list[str]:
    """The reference CLI client's fetch loop (cmd/client/main.go:40-86,
    S5): GET ``?watch=true[&offset=N]`` and scan the chunked response
    line by line. Returns the NDJSON lines; feed them to
    :func:`consume_ndjson` (via ``spark.createDataFrame``) for typed
    envelopes — the same split the reference has between its scanner
    loop and its (log-only) decode.

    Driver-side by design: the client is a consumer endpoint like the
    reference's CLI, not a distributed read path — the distributed
    path is the ``watch()`` stream over the sink.
    """
    import urllib.error
    import urllib.request
    from urllib.parse import urlencode

    q = {"watch": "true"}
    if offset is not None:
        q["offset"] = str(offset)
    if max_seconds is not None:
        q["max_seconds"] = str(max_seconds)
    full = f"{url.rstrip('/')}/api/v1/events?{urlencode(q)}"
    try:
        resp_ctx = urllib.request.urlopen(full, timeout=timeout)
    except urllib.error.HTTPError as e:
        # urlopen raises (rather than returning a >=400 response), so
        # the documented client error surfaces here (main.go:75-77)
        raise RuntimeError(
            f"could not read event stream: {e.code}"
        ) from e
    with resp_ctx as resp:
        return [
            line.decode().rstrip("\n")
            for line in resp
            if line.strip()
        ]
