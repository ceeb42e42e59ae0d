"""Event-time window queries (SURVEY §2.9 T6, batch-checkable analogs).

``window()`` / ``session_window`` in a batch groupBy compute exactly
what the streaming aggregation computes per watermark-complete window
— the same operators run under ``readStream`` in
``streaming/windows.py``; here they run on the batch events table so
the DuckDB oracle can replay them (epoch-bucket arithmetic: Spark
windows align to the 1970 epoch).

Window bounds are emitted as epoch microseconds (bigint) — engine-
neutral, no timestamp-timezone comparison hazards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

_HOUR_US = 3_600_000_000



# -- T6a: tumbling window aggregate ------------------------------------
@query(
    "q_tumbling_agg",
    oracle=f"""
    SELECT CAST(floor(epoch_us(ts) / {6 * _HOUR_US}.0) AS BIGINT)
             * {6 * _HOUR_US} AS window_start_us,
           count(*) AS n,
           count(DISTINCT user_id) AS users
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1
    """,
)
def q_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("users"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n",
            "users",
        )
    )


# -- T6b: sliding window aggregate -------------------------------------
@query(
    "q_sliding_agg",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(epoch_us(ts) / {6 * _HOUR_US}.0) AS BIGINT)
               * {6 * _HOUR_US} AS b0, *
      FROM events WHERE ts IS NOT NULL
    ),
    x AS (
      SELECT unnest([b0, b0 - {6 * _HOUR_US}]) AS window_start_us, event_id
      FROM b
    )
    SELECT window_start_us, count(*) AS n
    FROM x GROUP BY window_start_us
    """,
)
def q_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12h windows sliding every 6h — each event lands in 2 windows;
    the oracle replays the window assignment with epoch arithmetic."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "12 hours", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"), "n"
        )
    )


# -- T6c: session windows (gaps-and-islands) ---------------------------
@query(
    "q_session_window",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts)
               AS prev_us
      FROM events WHERE ts IS NOT NULL
    ),
    marked AS (
      SELECT *, CASE WHEN prev_us IS NULL
                      OR us - prev_us > {_HOUR_US} THEN 1 ELSE 0 END
                  AS new_session
      FROM o
    ),
    islands AS (
      SELECT *, sum(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM marked
    )
    SELECT user_id,
           min(us) AS session_start_us,
           max(us) + {_HOUR_US} AS session_end_us,
           count(*) AS n
    FROM islands
    GROUP BY user_id, session_id
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(gap=1h) per user — Spark's session end is
    last-event + gap; the oracle is the classic gaps-and-islands
    formulation of the same semantics."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n",
        )
    )


# -- T6d: per-type event-rate anomaly monitor ---------------------------
@query(
    "q_events_anomaly",
    oracle=f"""
    WITH ac AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / {6 * _HOUR_US}.0) AS BIGINT)
               * {6 * _HOUR_US} AS window_start_us,
             count(*) AS cnt
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2
    ),
    ast AS (
      SELECT event_type, count(*) AS nb,
             CAST(sum(cnt) AS BIGINT) AS s1,
             CAST(sum(cnt*cnt) AS BIGINT) AS s2
      FROM ac GROUP BY event_type
    )
    SELECT ac.event_type AS event_type, ac.window_start_us,
           ac.cnt AS n,
           round(ast.s1::DOUBLE / ast.nb::DOUBLE, 6) AS mean_n,
           (((ac.cnt * ast.nb - ast.s1)::DOUBLE
              * (ac.cnt * ast.nb - ast.s1)::DOUBLE)
             > (4.0 * (ast.nb::DOUBLE * ast.s2::DOUBLE
                        - ast.s1::DOUBLE * ast.s1::DOUBLE)))
             AS is_anomaly
    FROM ac JOIN ast USING (event_type)
    """,
)
def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-RATE ANOMALY monitor (r10) — the ops question an event
    log exists to answer: which (event_type, window) buckets are more
    than two standard deviations off their type's own rate? Flags
    |z| > 2 via the z² > 4 form with per-type stats derived from
    exact ADDITIVE BIGINT sums (bucket count nb, Σcnt, Σcnt²), so the
    whole decision replays: the comparison runs on doubles built from
    the same exact integers with the same expression shape in both
    engines — no streamed float accumulation anywhere (a double Σcnt²
    would be partition-order-dependent; the integer sums are not).

    Scale shape: the corpus collapses to ≤(types × buckets) cells in
    ONE map-side-combined aggregate; the per-type moment table is a
    second tiny aggregate over the CELLS (never the events) and
    broadcasts back onto them — the binned-AUC/quantile-cells
    posture. The cells are mergeable across ingest batches
    ((nb, Σ, Σ²) add cell-wise), so the monitor has the same
    incremental form as the rest of the sketch tier. At extreme
    per-bucket counts (>~3e9) the integer squares outgrow int64 —
    the documented swap is DECIMAL(38,0) cells; at any realistic
    bucket width that headroom is ample.

    Incremental form (r10): the cells are additive across ingest
    batches, so the monitor is also a store —
    :class:`~..functions.sketches.RateCellStore` (idempotent batch
    cell partitions, ``anomalies()`` over the merged
    cells bit-identical to this batch query; parity + replay
    idempotence in ``tests/test_streaming.py``), fed by
    :func:`~..streaming.model_stream.start_incremental_rate_cells`.
    The query, the store, and the ingest share :func:`rate_cells` /
    :func:`anomalies_from_cells` so the three can never drift."""
    from ..functions.sketches import anomalies_from_cells, rate_cells

    ev = load(spark, sf_dir, "events")
    return anomalies_from_cells(rate_cells(ev))


# -- T6e: event funnel (view -> click -> purchase, strictly ordered) ---
#: The funnel stages, in order. First-touch semantics: each stage
#: anchors on the user's EARLIEST qualifying event strictly after the
#: previous stage.
FUNNEL_STAGES = ("view", "click", "purchase")


def _funnel_oracle() -> str:
    s1, s2, s3 = FUNNEL_STAGES
    return f"""
    WITH fu AS (SELECT DISTINCT user_id FROM events
                WHERE user_id IS NOT NULL),
    f1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      WHERE event_type = '{s1}' AND ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    f2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM events e JOIN f1 ON e.user_id = f1.user_id
      WHERE e.event_type = '{s2}' AND e.ts IS NOT NULL
        AND epoch_us(e.ts) > f1.t1
      GROUP BY e.user_id
    ),
    f3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      FROM events e JOIN f2 ON e.user_id = f2.user_id
      WHERE e.event_type = '{s3}' AND e.ts IS NOT NULL
        AND epoch_us(e.ts) > f2.t2
      GROUP BY e.user_id
    )
    SELECT fu.user_id, f1.t1 AS t_view_us, f2.t2 AS t_click_us,
           f3.t3 AS t_purchase_us,
           CAST((f1.t1 IS NOT NULL)::INT + (f2.t2 IS NOT NULL)::INT
                + (f3.t3 IS NOT NULL)::INT AS BIGINT) AS depth
    FROM fu
    LEFT JOIN f1 ON fu.user_id = f1.user_id
    LEFT JOIN f2 ON fu.user_id = f2.user_id
    LEFT JOIN f3 ON fu.user_id = f3.user_id
    """


@query("q_events_funnel", oracle=_funnel_oracle())
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT FUNNEL (r10) — the product-analytics question an event
    log answers: per user, how deep into view → click → purchase did
    they get, with STRICT ordering (each stage counts only events
    after the user's first-touch of the previous stage)? Three
    conditional min-aggregates chained by equi-joins on user_id —
    first-touch times are exact BIGINT epoch-micros minima, so every
    depth decision replays. Users with no qualifying first stage
    report depth 0 (the fu LEFT JOIN spine keeps them) — the spine
    requires only a non-null user_id, so a user whose events all
    carry NULL ts still gets a depth-0 row; the ts filter applies
    only inside the per-stage aggregates (ADVICE_r10).

    Scale shape: each stage is one map-side-combined hash aggregate
    over a pushed type filter; the chaining joins are per-user-keyed
    equi-joins (the stage tables are ≤|users| rows — at 100 TB these
    broadcast or ride one co-partitioned exchange). No window over
    raw events, no Python."""
    s1, s2, s3 = FUNNEL_STAGES
    ev_u = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    ev = ev_u.filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts"))
    fu = ev_u.select("user_id").distinct()
    f1 = (
        ev.filter(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min(us).alias("t1"))
    )
    f2 = (
        ev.filter(F.col("event_type") == s2)
        .join(f1, "user_id")
        .filter(us > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min(us).alias("t2"))
    )
    f3 = (
        ev.filter(F.col("event_type") == s3)
        .join(f2, "user_id")
        .filter(us > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min(us).alias("t3"))
    )
    return (
        fu.join(f1, "user_id", "left")
        .join(f2, "user_id", "left")
        .join(f3, "user_id", "left")
        .select(
            "user_id",
            F.col("t1").alias("t_view_us"),
            F.col("t2").alias("t_click_us"),
            F.col("t3").alias("t_purchase_us"),
            (
                F.col("t1").isNotNull().cast("int")
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            )
            .cast("long")
            .alias("depth"),
        )
    )


# -- T6f: cohort retention ---------------------------------------------
_DAY_US = 86_400_000_000


@query(
    "q_events_retention",
    oracle=f"""
    WITH ra AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}.0) AS BIGINT) AS d
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    rc AS (SELECT user_id, min(d) AS cohort FROM ra GROUP BY user_id)
    SELECT rc.cohort * {_DAY_US} AS cohort_day_us,
           ra.d - rc.cohort AS day_offset,
           count(*) AS n_users
    FROM ra JOIN rc ON ra.user_id = rc.user_id
    GROUP BY 1, 2
    """,
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION (r10) — the companion analytics shape to the
    funnel: users cohorted by their first active day; each
    (cohort_day, day_offset) cell counts how many of that cohort were
    active again offset days later (offset 0 is the cohort size).
    All-integer day-bucket arithmetic (floor of epoch-micros over an
    exact divisor), so every cell replays.

    Scale shape: the (user, day) activity table is one DISTINCT
    (map-side partial), the cohort table one min-aggregate over it,
    and the join is user-keyed co-partitioned; the result is
    ≤ days² cells regardless of event volume.

    Incremental form (r10): distinct activity rows merge by SET
    UNION (idempotent under replay AND overlapping batches), so the
    tier is also a store —
    :class:`~..functions.sketches.ActivityStore` (``retention()``
    over the merged rows bit-identical to this batch query; parity in
    ``tests/test_streaming.py``), fed by
    :func:`~..streaming.model_stream.start_incremental_activity`.
    Query, store, and ingest share :func:`activity_days` /
    :func:`retention_from_days` so the three can never drift."""
    from ..functions.sketches import activity_days, retention_from_days

    ev = load(spark, sf_dir, "events")
    return retention_from_days(activity_days(ev))


# -- T6g: event-type transition matrix ---------------------------------
@query(
    "q_events_transitions",
    oracle="""
    WITH tr AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    tc AS (
      SELECT event_type, next_type, count(*) AS n
      FROM tr WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    tt AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS tot
      FROM tc GROUP BY event_type
    )
    SELECT tc.event_type, tc.next_type, tc.n,
           round(CAST(tc.n AS DOUBLE) / CAST(tt.tot AS DOUBLE), 6)
             AS p_next
    FROM tc JOIN tt USING (event_type)
    """,
)
def q_events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TYPE TRANSITION MATRIX (r10) — the first-order Markov
    view of the event log: per (type, next-type) pair, how often does
    a user's NEXT event follow, and with what conditional probability
    P(next | type)? The sequence-modeling primitive behind "what do
    users do after an error" — and the row-normalized counts are the
    training table of a first-order next-event model. Succession is
    per USER in (ts, event_id) order (the deterministic tie-break),
    so every transition — and therefore every probability — replays.

    Scale shape: ONE lead() window PARTITIONED by user (never a
    global sort; per-user sequences are the natural partition), a
    map-side-combined pair count, and the row totals computed from
    the ≤types² CELL table (broadcast back) — the anomaly-monitor
    posture: probabilities are a ratio of exact BIGINTs, rounded
    once."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tc = (
        ev.select(
            "event_type",
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tt = tc.groupBy("event_type").agg(F.sum("n").alias("tot"))
    return tc.join(F.broadcast(tt), "event_type").select(
        "event_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.col("tot").cast("double"), 6
        ).alias("p_next"),
    )


# -- T6h: session path mining (r11) -------------------------------------
#: Session gap for path mining — the same 4 h inactivity threshold the
#: gaps-and-islands sessionizer uses (advanced_queries._SESSION_GAP_US),
#: so "a session" means one thing engine-wide.
_PATH_GAP_US = 4 * 3600 * 1_000_000


@query(
    "q_events_paths",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > {_PATH_GAP_US}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM flagged
    ), tri AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER ws AS t2,
             lead(event_type, 2) OVER ws AS t3
      FROM sess
      WINDOW ws AS (
        PARTITION BY user_id, session_id ORDER BY ts, event_id
      )
    )
    SELECT t1 || '>' || t2 || '>' || t3 AS path,
           count(*) AS n
    FROM tri WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY 1
    """,
)
def q_events_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SESSION PATH MINING (r11) — the sequence completion of the
    event-analytics tier: funnel (fixed stages) → transitions
    (first-order bigrams) → PATHS (within-session event-type
    trigrams), the "what do users actually do, in order" table a
    product team reads next to the transition matrix. Sessions are
    the engine's standard gaps-and-islands islands (4 h inactivity,
    the q_sessionize threshold) so a path never spans a session
    boundary; within a session the trigram window orders by the
    deterministic (ts, event_id) tie-break, so every path count
    replays exactly.

    Scale shape: two windows PARTITIONED by user (lag → boundary
    flag → running sum = session id) then by (user, session) for the
    two leads — per-key bounded, never a global sort — and ONE
    map-side-combined count over ≤types³ path groups. The same
    posture as q_events_transitions, one window deeper."""
    from pyspark.sql import Window

    # event_type must be non-null on BOTH sides: the engine's
    # concat_ws SKIPS null segments while the oracle's || nulls the
    # whole path — excluding null types keeps the two semantics
    # identical (and a null type is not a path step anyway)
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flag = F.when(us - F.lag(us).over(w) > _PATH_GAP_US, 1).otherwise(0)
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum(flag)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
        .alias("session_id"),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy(
        "ts", "event_id"
    )
    tri = sess.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(ws).alias("t2"),
        F.lead("event_type", 2).over(ws).alias("t3"),
    ).filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        tri.select(
            F.concat_ws(">", "t1", "t2", "t3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# -- T6i: power-user curve (r11) ----------------------------------------
@query(
    "q_events_power_curve",
    oracle="""
    WITH pu AS (
      SELECT user_id, count(*) AS n_events
      FROM events WHERE user_id IS NOT NULL
      GROUP BY user_id
    )
    SELECT n_events, count(*) AS n_users,
           CAST(n_events * count(*) AS BIGINT) AS events_in_tier
    FROM pu GROUP BY n_events
    """,
)
def q_events_power_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER-USER CURVE (r11) — the count-of-counts view of the event
    log (the TPC-H Q13 shape pointed at engagement): how many users
    produced exactly N events, and how much of the log each activity
    tier accounts for. The one-table histogram behind "is usage
    heavy-tailed", all exact BIGINTs.

    Scale shape: two map-side-combined hash aggregates — per-user
    counts (shuffle keyed by user), then count-of-counts over the
    ≤distinct-counts cell table. No window, no join, no Python."""
    pu = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return pu.groupBy("n_events").agg(
        F.count(F.lit(1)).alias("n_users"),
        (F.col("n_events") * F.count(F.lit(1)))
        .cast("bigint")
        .alias("events_in_tier"),
    )


# -- T6j: inter-event gap profile (r11) ----------------------------------
@query(
    "q_events_gaps",
    oracle="""
    WITH g AS (
      SELECT event_type,
             lead(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) - epoch_us(ts) AS gap_us
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    )
    SELECT event_type, count(gap_us) AS n_gaps,
           round(CAST(sum(gap_us) AS DOUBLE)
                 / CAST(count(gap_us) AS DOUBLE), 6) AS avg_gap_us,
           min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def q_events_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-EVENT GAP PROFILE (r11) — per event type, how long until
    the user's NEXT event (any type)? The dwell-time table behind
    "errors stall users, purchases end sessions": gap attribution is
    to the EARLIER event's type, successor order is the deterministic
    per-user (ts, event_id) sequence, and gaps are exact BIGINT
    epoch-micro differences — the mean is one ratio of exact integer
    sums, rounded once, so every figure replays.

    Scale shape: ONE lead() window PARTITIONED by user (the same
    per-key-bounded window as the transition matrix) and one
    map-side-combined aggregate over ≤types groups. The sum stays
    below 2^63 for ~292k user-years of microseconds per type — the
    exact-integer posture holds at any realistic log."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (F.lead(us).over(w) - us).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(
            F.sum("gap_us").cast("double")
            / F.count("gap_us").cast("double"),
            6,
        ).alias("avg_gap_us"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


# -- T6k: DAU / WAU stickiness (r11) --------------------------------------
@query(
    "q_events_stickiness",
    oracle=f"""
    WITH ra AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / {_DAY_US}.0) AS BIGINT) AS d
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    dau AS (SELECT d, count(*) AS dau FROM ra GROUP BY d),
    contrib AS (
      SELECT user_id, d + i AS td
      FROM ra, unnest([0, 1, 2, 3, 4, 5, 6]) AS t(i)
    ),
    wau AS (
      SELECT td AS d, count(DISTINCT user_id) AS wau
      FROM contrib GROUP BY td
    )
    SELECT dau.d * {_DAY_US} AS day_us, dau.dau, wau.wau,
           round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
             AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    """,
)
def q_events_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU STICKINESS (r11) — the engagement ratio every product
    dashboard leads with: per observed day, distinct daily actives
    over distinct trailing-7-day actives. Exact distinct counts over
    integer day buckets, so every ratio replays. The trailing window
    is computed by CONTRIBUTION expansion — each (user, day) activity
    row contributes to the 7 target days it is inside — which turns
    the unsupported distinct-count-over-moving-window into two plain
    hash aggregates (the bounded 7× explode of the ALREADY-distinct
    activity table, never of raw events).

    Scale shape: one DISTINCT (user, day) pass (the ActivityStore
    cell shape — ``ActivityStore.stickiness()`` serves exactly this
    table incrementally off the merged set-union rows; the query,
    the store readout, and the ingest share
    ``sketches.activity_days``/``stickiness_from_days`` so the three
    can never drift), one map-side-combined DAU aggregate, one
    7×-bounded explode + distinct-user aggregate, and a ≤days-row
    join. State never exceeds users × days."""
    from ..functions.sketches import activity_days, stickiness_from_days

    return stickiness_from_days(
        activity_days(load(spark, sf_dir, "events"))
    )


# -- T6l: hour-of-day seasonality profile (r12) ---------------------------
@query(
    "q_events_seasonality",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / {_HOUR_US}.0) AS BIGINT) % 24
               AS hour_of_day,
             count(*) AS n_events
      FROM events
      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT event_type, hour_of_day, n_events,
           round(CAST(n_events AS DOUBLE)
                 / sum(n_events) OVER (PARTITION BY event_type), 6)
             AS hour_share
    FROM c
    """,
)
def q_events_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOUR-OF-DAY SEASONALITY (r12) — the diurnal profile behind
    capacity planning and anomaly BASELINING: per (event_type, UTC
    hour-of-day 0-23), event count and the hour's share of its
    type's traffic. A type whose share curve is flat is machine
    traffic; a human type shows the day/night wave — and the rate-
    anomaly monitor (T6d) should be read against this curve, not a
    flat mean. Hours come from exact integer epoch arithmetic
    (floor-div micros to hours, mod 24 — same bucket convention as
    every T6 window), counts are exact BIGINTs, shares divide them
    rounded to 6.

    Scale shape: ONE map-side-combined hash aggregate to
    ≤ types × 24 cells; the share window runs on the CELL table
    (tiny-prefix territory). No join, no Python, the event stream
    shuffles once keyed by (type, hour)."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    us = F.unix_micros(F.col("ts"))
    c = ev.groupBy(
        "event_type",
        (
            F.floor(us / F.lit(float(_HOUR_US))).cast("bigint") % 24
        ).alias("hour_of_day"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type")
    return c.select(
        "event_type",
        "hour_of_day",
        "n_events",
        F.round(
            F.col("n_events").cast("double") / F.sum("n_events").over(w),
            6,
        ).alias("hour_share"),
    )


# -- T6m: event-type co-occurrence lift (r12) -----------------------------
@query(
    "q_events_cooccurrence",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT user_id, event_type
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    ),
    n AS (SELECT count(DISTINCT user_id) AS n_users FROM ut),
    tc AS (SELECT event_type, count(*) AS n_t FROM ut GROUP BY event_type),
    co AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT co.type_a, co.type_b, co.n_both,
           round(CAST(co.n_both AS DOUBLE) * n.n_users
                 / (ta.n_t * tb.n_t), 6) AS lift
    FROM co
    JOIN tc ta ON ta.event_type = co.type_a
    JOIN tc tb ON tb.event_type = co.type_b, n
    """,
)
def q_events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TYPE CO-OCCURRENCE LIFT (r12) — which behaviors travel
    together: for every unordered type pair, how many users did both,
    and the lift n_both·U/(n_a·n_b) (>1 = the types attract, <1 =
    they repel — the market-basket association measure pointed at the
    event log; the word-PMI shape over users instead of documents).
    Exact BIGINT counts; the lift is one rounded double division.

    Scale shape: the corpus collapses to DISTINCT (user, type) rows
    first (≤ users × types, the only data-sized aggregate); the pair
    join is keyed by user and each user contributes ≤ types² pairs —
    bounded by the type-vocabulary, never by event volume; the
    per-type counts ride a broadcast-sized ≤types-row table. No
    window, no Python, no cartesian."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ut.agg(
        F.countDistinct("user_id").alias("n_users")
    )
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a = ut.withColumnRenamed("event_type", "type_a")
    b = ut.withColumnRenamed("event_type", "type_b")
    co = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        co.join(
            F.broadcast(tc.withColumnRenamed("event_type", "type_a")
                        .withColumnRenamed("n_t", "n_a")),
            "type_a",
        )
        .join(
            F.broadcast(tc.withColumnRenamed("event_type", "type_b")
                        .withColumnRenamed("n_t", "n_b")),
            "type_b",
        )
        .join(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both").cast("double") * F.col("n_users")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


# -- T6n: per-type burstiness (index of dispersion, r12) ------------------
@query(
    "q_events_burstiness",
    oracle=f"""
    WITH dc AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / {_DAY_US}.0) AS BIGINT) AS d,
             count(*) AS cnt
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cnt) AS BIGINT) AS s1,
             CAST(sum(cnt * cnt) AS BIGINT) AS s2
      FROM dc GROUP BY event_type
    )
    SELECT event_type, n_days, s1 AS n_events,
           round(CAST(s1 AS DOUBLE) / n_days, 6) AS mean_daily,
           round((CAST(s2 AS DOUBLE) / n_days)
                 - (CAST(s1 AS DOUBLE) / n_days)
                   * (CAST(s1 AS DOUBLE) / n_days), 6) AS var_daily,
           round(((CAST(s2 AS DOUBLE) / n_days)
                  - (CAST(s1 AS DOUBLE) / n_days)
                    * (CAST(s1 AS DOUBLE) / n_days))
                 / (CAST(s1 AS DOUBLE) / n_days), 6) AS dispersion
    FROM st
    """,
)
def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-TYPE BURSTINESS (r12) — the index of dispersion
    (variance/mean of ACTIVE-day counts): ~1 means Poisson-like
    steady traffic, >>1 means bursts — the one-number triage for
    which event types need the anomaly monitor's attention at all
    (T6d flags windows; this ranks types). Variance comes from exact
    integer moment sums (Σx, Σx² as BIGINTs — the T6d moment
    convention) with the SAME division expression shape in both
    engines; day buckets are exact integer epoch arithmetic.

    Scale shape: events collapse to ≤ types × days count cells in
    ONE map-side-combined aggregate, then a second ≤types-row moment
    aggregate over the CELLS. No window, no join, no Python."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    us = F.unix_micros(F.col("ts"))
    dc = ev.groupBy(
        "event_type",
        F.floor(us / F.lit(float(_DAY_US))).cast("bigint").alias("d"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    st = dc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("cnt").cast("bigint").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_days")
    var = (F.col("s2").cast("double") / F.col("n_days")) - mean * mean
    return st.select(
        "event_type",
        "n_days",
        F.col("s1").alias("n_events"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.round(var / mean, 6).alias("dispersion"),
    )
