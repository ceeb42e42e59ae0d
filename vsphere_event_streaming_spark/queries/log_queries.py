"""Log-model declared queries (SURVEY §2.1-2.2, §2.4-2.6 [REF]/[SEM] tier).

The synthetic ``events`` table stands in for the reference's vSphere
event stream: ``event_id`` ≡ log offset / vSphere Key, ``ts`` ≡
CreatedTime (FIXTURES.md §B). Each query here reproduces one observable
behavior of the reference server, as a declarative Spark plan with a
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..log.model import assign_offsets, last_page, log_range, probe_offsets
from ..operators.envelope import event_class, to_envelope, type_name
from ..registry import query
from ..tables import load



def _scalar(df: DataFrame):
    """Execute a 1-row bound query driver-side.

    The explicit form of Catalyst's ScalarSubquery execution: the tiny
    aggregate (columnar min/max over one column, no shuffle of data
    rows) runs first, and its result becomes a **literal** in the main
    query's predicate — so the predicate reaches the parquet scan
    (PushedFilters) and row-group min/max statistics prune I/O. A
    broadcast-joined 1-row bound keeps the plan lazy but scans
    everything; at 100 TB the literal form reads one row group where
    the join form reads the table.
    """
    row = df.first()
    return None if row is None else row[0]


# -- A1: min/max range aggregate (server.go:305-327) -------------------
@query(
    "q_range",
    oracle="""
    SELECT min(event_id) AS earliest, max(event_id) AS latest FROM events
    """,
)
def q_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return log_range(load(spark, sf_dir, "events"), "event_id")


# -- A2: count / empty-log detection (server.go:218-221) ---------------
@query("q_count", oracle="SELECT count(*) AS n FROM events")
def q_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "events").agg(F.count(F.lit(1)).alias("n"))


# -- P4: point lookup (server.go:269-302) ------------------------------
@query(
    "q_point_lookup",
    oracle="""
    SELECT * FROM events
    WHERE event_id = (SELECT min(event_id) + 10 FROM events)
    """,
)
def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log.model import point_lookup

    ev = load(spark, sf_dir, "events")
    lo = _scalar(ev.agg(F.min("event_id")))
    # empty log: comparing to a NULL literal yields 0 rows, matching
    # the oracle's NULL scalar subquery
    probe = None if lo is None else lo + 10
    return point_lookup(ev, probe, "event_id")


# -- P5/O1: ordered replay from offset (server.go:151-169) -------------
@query(
    "q_replay_from",
    oracle="""
    SELECT * FROM events
    WHERE event_id >= (SELECT min(event_id) + 500 FROM events)
    """,
)
def q_replay_from(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..log.model import replay_from

    ev = load(spark, sf_dir, "events")
    lo = _scalar(ev.agg(F.min("event_id")))
    start = None if lo is None else lo + 500
    return replay_from(ev, start, "event_id")


# -- O1: total-order delivery of the whole log (server.go:226,:171-191)
@query(
    "q_ordered_replay",
    oracle="SELECT * FROM events ORDER BY event_id",
)
def q_ordered_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-log ordered read: range-partitioned sort (no single-task
    order) — each output partition is an ordered offset slice, the
    partition order is the global order, exactly a Kafka-style
    consumer's view."""
    from ..log.model import ordered_replay

    return ordered_replay(load(spark, sf_dir, "events"), "event_id")


# -- W2/O2: last page, top-k without a global sort (server.go:211-267) -
@query(
    "q_last_page",
    oracle="SELECT * FROM events ORDER BY event_id DESC LIMIT 50",
)
def q_last_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    return last_page(load(spark, sf_dir, "events"), 50, "event_id")


# -- O3/T3: bounded retention (README.md:177-184) ----------------------
@query(
    "q_retention",
    oracle="""
    SELECT * FROM events
    WHERE event_id > (SELECT max(event_id) - 2000 FROM events)
    """,
)
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-phase: 1-row max first, then a *literal* lower bound so the
    # purge predicate prunes parquet row groups (see _scalar)
    ev = load(spark, sf_dir, "events")
    latest = _scalar(ev.agg(F.max("event_id")))
    cutoff = None if latest is None else int(latest) - 2 * 1000
    return ev.filter(F.col("event_id") > F.lit(cutoff))


# -- W1: deterministic monotonic offset assignment (main.go:113-125) ---
@query(
    "q_offset_assign",
    oracle="""
    SELECT event_id,
           row_number() OVER (ORDER BY ts, event_id)
             + (SELECT min(event_id) FROM events) - 1 AS offset
    FROM events
    """,
)
def q_offset_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return assign_offsets(
        ev, order_by=["ts", "event_id"], seed_col="event_id"
    ).select("event_id", "offset")


# -- P7: boundary validity classification (server.go:285-288) ----------
@query(
    "q_range_bounds",
    oracle="""
    WITH r AS (SELECT min(event_id) AS e, max(event_id) AS l FROM events),
    p AS (
      SELECT unnest([e - 1, e, (e + l) // 2, l, l + 1]) AS probe FROM r
    )
    SELECT probe,
           CASE WHEN probe < e THEN 'out_of_range'
                WHEN probe > l THEN 'future'
                ELSE 'valid' END AS status
    FROM p, r
    """,
)
def q_range_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    rng = log_range(ev, "event_id")
    probes = rng.select(
        F.explode(
            F.array(
                F.col("earliest") - 1,
                F.col("earliest"),
                F.expr("(earliest + latest) div 2"),
                F.col("latest"),
                F.col("latest") + 1,
            )
        ).alias("probe")
    )
    return probe_offsets(ev, probes, "event_id")


# -- P1: CloudEvents envelope projection (main.go:127-132) -------------
_ENVELOPE_SQL = """
    SELECT '1.0' AS specversion,
           CAST(event_id AS VARCHAR) AS id,
           'https://vcenter.example.com/sdk' AS source,
           'vmware.vsphere.' || event_type || '.v0' AS type,
           'application/json' AS datacontenttype,
           ts AS time,
           CASE WHEN event_type IN ('error') THEN 'eventex'
                WHEN event_type IN ('purchase', 'signup') THEN 'extendedevent'
                ELSE 'event' END AS eventclass,
           event_id AS data_key,
           user_id AS data_user_id,
           value AS data_value,
           props AS data_props
    FROM events
"""


@query("q_envelope", oracle=_ENVELOPE_SQL)
def q_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return to_envelope(load(spark, sf_dir, "events"))


# -- P2: type-name derivation (README.md:58) ---------------------------
@query(
    "q_typename",
    oracle="""
    SELECT DISTINCT event_type,
           'vmware.vsphere.' || event_type || '.v0' AS ce_type
    FROM events
    """,
)
def q_typename(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .select("event_type", type_name(F.col("event_type")).alias("ce_type"))
        .distinct()
    )


# -- P3: event classification rollup (main.go:127) ---------------------
@query(
    "q_eventclass",
    oracle="""
    SELECT CASE WHEN event_type IN ('error') THEN 'eventex'
                WHEN event_type IN ('purchase', 'signup') THEN 'extendedevent'
                ELSE 'event' END AS eventclass,
           count(*) AS n
    FROM events GROUP BY 1
    """,
)
def q_eventclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy(event_class(F.col("event_type")).alias("eventclass"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# -- P6: time lower-bound ingest filter (main.go:90-92) ----------------
@query(
    "q_time_window_filter",
    oracle="""
    SELECT * FROM events
    WHERE ts >= (SELECT max(ts) - INTERVAL 24 HOUR FROM events)
    """,
)
def q_time_window_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time lower-bound ingest filter (main.go:90-92) with pushdown.

    The events ``ts`` is stored as parquet TIMESTAMP(NANOS); filtering
    on the *converted* timestamp blocks pushdown, so the bound is
    computed once, translated to raw nanos, and applied to the stored
    int64 column — ``floor(ns/1000) >= b_us ⟺ ns >= b_us*1000``, so
    the predicate is exactly equivalent and reaches the scan.
    """
    raw = load(spark, sf_dir, "events", raw=True)
    if dict(raw.dtypes).get("ts") == "bigint":
        max_ns = _scalar(raw.agg(F.max("ts")))
        if max_ns is None:  # empty log → 0 rows, like the oracle
            begin_ns = None
        else:
            # truncate to micros first: the oracle computes its bound
            # from micro-truncated timestamps, so an untruncated bound
            # would be up to 999 ns stricter
            begin_ns = (int(max_ns) // 1000) * 1000 - 24 * 3600 * 10**9
        out = raw.filter(F.col("ts") >= F.lit(begin_ns))
        return out.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    ev = load(spark, sf_dir, "events")
    begin = _scalar(ev.agg(F.max("ts") - F.expr("INTERVAL 24 HOURS")))
    return ev.filter(F.col("ts") >= F.lit(begin))


# -- S3: page marshal to JSON lines (server.go:254-266) ----------------
# JSON built by explicit concat so byte output is engine-independent
# (the reference's serialize-once rule, main.go:134).
@query(
    "q_page_json",
    oracle="""
    SELECT event_id AS offset,
           '{"specversion":"1.0","id":"' || CAST(event_id AS VARCHAR)
             || '","type":"vmware.vsphere.' || event_type || '.v0'
             || '","eventclass":"'
             || CASE WHEN event_type IN ('error') THEN 'eventex'
                     WHEN event_type IN ('purchase', 'signup') THEN 'extendedevent'
                     ELSE 'event' END
             || '"}' AS value
    FROM events ORDER BY event_id DESC LIMIT 50
    """,
)
def q_page_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = last_page(load(spark, sf_dir, "events"), 50, "event_id")
    return ev.select(
        F.col("event_id").alias("offset"),
        F.concat(
            F.lit('{"specversion":"1.0","id":"'),
            F.col("event_id").cast("string"),
            F.lit('","type":"vmware.vsphere.'),
            F.col("event_type"),
            F.lit('.v0","eventclass":"'),
            event_class(F.col("event_type")),
            F.lit('"}'),
        ).alias("value"),
    )


# -- S6: JSON codec roundtrip (main.go:134 + server.go:244-249) --------
@query(
    "q_decode_roundtrip",
    oracle="""
    SELECT event_id,
           'vmware.vsphere.' || event_type || '.v0' AS type,
           event_id AS data_key,
           user_id AS data_user_id,
           value AS data_value
    FROM events
    """,
)
def q_decode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_json → from_json identity: proves the codec loses nothing."""
    ev = load(spark, sf_dir, "events")
    encoded = ev.select(
        F.col("event_id"),
        F.to_json(
            F.struct(
                type_name(F.col("event_type")).alias("type"),
                F.col("event_id").alias("data_key"),
                F.col("user_id").alias("data_user_id"),
                F.col("value").alias("data_value"),
            )
        ).alias("json"),
    )
    schema = (
        "type string, data_key bigint, data_user_id bigint, data_value double"
    )
    decoded = encoded.withColumn("e", F.from_json("json", schema))
    return decoded.select(
        "event_id",
        F.col("e.type").alias("type"),
        F.col("e.data_key").alias("data_key"),
        F.col("e.data_user_id").alias("data_user_id"),
        F.col("e.data_value").alias("data_value"),
    )
