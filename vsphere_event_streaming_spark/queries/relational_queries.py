"""Relational-completeness queries (SURVEY §2.3-2.7 [EXT] tier).

Joins, aggregates, window functions and set operations over the driver
star schema. All pure DataFrame API — Catalyst picks the physical
strategy; the code only steers it (explicit ``broadcast`` for dims,
equi-anchored range joins, decimal casts for order-independent exact
sums).

Determinism: every double aggregate goes through ``decimal`` so the
result is identical regardless of partial-aggregation order, then is
cast back to double for a stable cross-engine comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.joins import asof_join, broadcast_dim_join, range_join
from ..registry import query
from ..tables import load



def _dsum(col, scale: int = 2):
    """Order-independent exact sum of a fixed-point double column."""
    return F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double")


# ======================================================================
# §2.3 Joins
# ======================================================================


# -- J1: broadcast hash equi-join (fact → small dim) -------------------
@query(
    "q_join_broadcast",
    oracle="""
    SELECT p_brand, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        broadcast_dim_join(li, part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("l_quantity").alias("sum_qty"),
        )
    )


# -- J2: shuffle/sort-merge equi-join (fact → fact) --------------------
@query(
    "q_join_smj",
    oracle="""
    SELECT o_orderstatus, l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus, l_returnflag
    """,
)
def q_join_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("l_extendedprice").alias("sum_price"),
        )
    )


# -- J3: left outer join (nullable dims stay NULL, README.md:66-72) ----
@query(
    "q_join_left",
    oracle="""
    SELECT o_orderkey, c.c_name
    FROM orders o
    LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
      ON o.o_custkey = c.c_custkey
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return broadcast_dim_join(
        orders, cust, orders.o_custkey == cust.c_custkey, "left"
    ).select("o_orderkey", "c_name")


# -- J4a: left semi join ----------------------------------------------
@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 200000)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


# -- J4b: left anti join ----------------------------------------------
@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderstatus = 'F')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# -- J5: equi-anchored range/interval join -----------------------------
@query(
    "q_join_range",
    oracle="""
    SELECT o_orderpriority, count(*) AS n
    FROM orders JOIN lineitem
      ON l_orderkey = o_orderkey
     AND l_shipdate >= o_orderdate
     AND l_shipdate < o_orderdate + INTERVAL 30 DAY
    GROUP BY o_orderpriority
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    joined = range_join(
        orders,
        li,
        equi=li.l_orderkey == orders.o_orderkey,
        lower=li.l_shipdate >= orders.o_orderdate,
        upper=li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
    )
    return joined.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))


# -- J5': pure range join (no equi key), binned to a hash join --------
@query(
    "q_join_range_binned",
    oracle="""
    SELECT a.event_type AS window_type, b.event_type AS hit_type,
           count(*) AS n
    FROM events a JOIN events b
      ON b.ts >= a.ts
     AND b.ts < a.ts + INTERVAL 10 MINUTE
     AND a.event_id <> b.event_id
    GROUP BY a.event_type, b.event_type
    """,
)
def q_join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure range join with NO equi anchor — "which events fall inside
    the 10 minutes after event X" (the reference's ChainId-style
    temporal correlation, SURVEY §2.3) — executed scale-safely by
    BINNING: window-wide time bins, each interval exploded onto its
    <= 2 overlapping bins, equi-join on the bin, exact containment as
    a residual. (The window is 10 minutes, not an hour, purely to
    keep the benchmark's true pair count ~2M instead of ~14M at
    sf0.1 — identical machinery at any width.)

    A bare theta join here plans as a nested loop (O(n·m) —
    the oracle's DuckDB IEJoin is the single-node luxury); the binned
    form is a shuffled hash join on the bin key (plan-audited: no
    BroadcastNestedLoopJoin, no CartesianProduct), the interval-join
    shape streaming engines use. Self-pairs are excluded; counts
    aggregate per (window's type, hit's type)."""
    from ..operators.joins import binned_range_join

    ev = load(spark, sf_dir, "events")
    points = ev.select(
        F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"),
        F.col("event_type").alias("hit_type"),
    )
    intervals = ev.select(
        F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_ts"),
        F.col("event_type").alias("window_type"),
    )
    joined = binned_range_join(
        points,
        intervals,
        point_ts="b_ts",
        lo_ts="a_ts",
        hi_expr=F.col("a_ts") + F.expr("INTERVAL 10 MINUTE"),
        bin_seconds=600,
    ).filter(F.col("a_id") != F.col("b_id"))
    return joined.groupBy("window_type", "hit_type").agg(
        F.count(F.lit(1)).alias("n")
    )


# -- J6: as-of join (latest dim state at event time) -------------------
@query(
    "q_join_asof",
    oracle="""
    WITH ranked AS (
      SELECT e.event_id, o.o_orderkey,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
             ) AS rn
      FROM events e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    )
    SELECT event_id, o_orderkey AS asof_orderkey FROM ranked WHERE rn = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    out = asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        tiebreakers=["o_orderkey"],
        left_key="event_id",
    )
    return out.select("event_id", F.col("o_orderkey").alias("asof_orderkey"))


# -- J6'': as-of join with staleness tolerance -------------------------
@query(
    "q_join_asof_tol",
    oracle="""
    WITH ranked AS (
      SELECT e.event_id, o.o_orderkey,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
             ) AS rn
      FROM events e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
       AND o.o_orderdate > e.ts - INTERVAL 9000 DAY
    )
    SELECT event_id, o_orderkey AS asof_orderkey FROM ranked WHERE rn = 1
    """,
)
def q_join_asof_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness tolerance (pandas merge_asof
    ``tolerance=`` semantics): the latest order at-or-before each
    event, but only if it is younger than 9000 days — older state is
    treated as ABSENT (NULL), not silently matched. On this corpus the
    orders predate the events by 22-29 years, so the tolerance
    genuinely splits the match set: users whose latest order falls
    inside the horizon keep their asof row, the rest fall to NULL —
    the data-freshness alarm a production dim join monitors. Same
    key-partitioned shuffle as q_join_asof; the tolerance is one more
    residual predicate, free at any scale."""
    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    out = asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        tiebreakers=["o_orderkey"],
        left_key="event_id",
        tolerance="9000 days",
    )
    return out.select("event_id", F.col("o_orderkey").alias("asof_orderkey"))


# -- J6': forward as-of join (next dim state after event time) ---------
@query(
    "q_join_asof_fwd",
    oracle="""
    WITH ranked AS (
      SELECT e.event_id, o.o_orderkey,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY o.o_orderdate ASC, o.o_orderkey ASC
             ) AS rn
      FROM events e
      LEFT JOIN orders o
        ON o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
    )
    SELECT event_id, o_orderkey AS next_orderkey FROM ranked WHERE rn = 1
    """,
)
def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: the FIRST order at-or-after each event (the
    'what happened next' direction — attribution, next-action
    analysis). Same key-partitioned shuffle as the backward form with
    the time condition and rank order flipped.
    """
    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    out = asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        tiebreakers=["o_orderkey"],
        left_key="event_id",
        direction="forward",
    )
    return out.select("event_id", F.col("o_orderkey").alias("next_orderkey"))


@query(
    "q_join_asof_near",
    oracle="""
    WITH ranked AS (
      SELECT e.event_id, o.o_orderkey,
             abs(epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
                 - epoch_us(e.ts)) AS dist_us,
             row_number() OVER (
               PARTITION BY e.event_id
               ORDER BY abs(epoch_us(CAST(o.o_orderdate AS TIMESTAMP))
                            - epoch_us(e.ts)) ASC,
                        o.o_orderdate ASC, o.o_orderkey ASC
             ) AS rn
      FROM events e
      LEFT JOIN orders o ON o.o_custkey = e.user_id
    )
    SELECT event_id, o_orderkey AS near_orderkey,
           CAST(dist_us AS BIGINT) AS dist_us
    FROM ranked WHERE rn = 1
    """,
)
def q_join_asof_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of (r13) — the closest order to each event in
    EITHER time direction, completing the as-of direction trio
    (backward/forward/nearest, the pandas merge_asof surface): the
    attribution question 'which order is this event ABOUT' when the
    order may precede or follow the event. Same key-partitioned
    shuffle as the other directions; the ranking distance is exact
    integer microseconds (unix_micros ≡ epoch_us — no float
    subtraction), equidistant ties prefer the earlier order date then
    the key, so both engines rank identically. Unmatched events keep
    NULLs under the left join — the reported dist_us doubles as the
    staleness column a tolerance would gate on."""
    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    out = asof_join(
        ev,
        orders,
        left_on="user_id",
        right_on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        tiebreakers=["o_orderkey"],
        left_key="event_id",
        direction="nearest",
    )
    return out.select(
        "event_id",
        F.col("o_orderkey").alias("near_orderkey"),
        F.abs(
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            - F.unix_micros(F.col("ts"))
        )
        .cast("bigint")
        .alias("dist_us"),
    )


# ======================================================================
# §2.4 Aggregations
# ======================================================================


# -- A3: grouped hash aggregate ----------------------------------------
@query(
    "q_group_agg",
    oracle="""
    SELECT event_type, count(*) AS n,
           min(ts) AS first_ts, max(ts) AS last_ts,
           CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            _dsum("value", 6).alias("sum_value"),
        )
    )


# -- A4: distinct / count-distinct -------------------------------------
@query(
    "q_count_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS users FROM events
    GROUP BY event_type
    """,
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
    )


# -- A4': approximate aggregates (the 100 TB interactive tier) ---------
@query("q_approx_aggs", oracle=None)  # approximate by design: rows-only
def q_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ count-distinct and approximate quantiles per
    event_type — sketch-based single-pass aggregates whose state is
    constant-size per group regardless of input rows (the only viable
    distinct/quantile form at 100 TB). Accuracy vs exact is asserted in
    ``tests/test_approx_aggs.py``; cross-engine value equality is
    impossible by design (sketches are engine-specific), hence
    rows-only here. The three quantiles are projected as scalar
    columns (not one array) so the driver's rows-only canonicalizer —
    which cannot hash ndarray cells — accepts the frame.
    """
    agged = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias(
                "value_quantiles"
            ),
        )
    )
    return agged.select(
        "event_type",
        "approx_users",
        F.element_at("value_quantiles", 1).alias("value_p50"),
        F.element_at("value_quantiles", 2).alias("value_p95"),
        F.element_at("value_quantiles", 3).alias("value_p99"),
    )


# -- A5: rollup / grouping sets ----------------------------------------
@query(
    "q_rollup",
    oracle="""
    SELECT r_name, n_name, count(*) AS n,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    full = broadcast_dim_join(
        broadcast_dim_join(cust, nation, cust.c_nationkey == nation.n_nationkey),
        region,
        F.col("n_regionkey") == region.r_regionkey,
    )
    return full.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n"), _dsum("c_acctbal").alias("sum_bal")
    )


# -- A6: chain aggregation (per correlation group, README.md:63) -------
@query(
    "q_chain_agg",
    oracle="""
    SELECT user_id, count(*) AS n,
           min(event_id) AS first_event, max(event_id) AS last_event,
           count(DISTINCT event_type) AS types
    FROM events GROUP BY user_id
    """,
)
def q_chain_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
            F.countDistinct("event_type").alias("types"),
        )
    )


# ======================================================================
# §2.5 Window functions
# ======================================================================


# -- W3: ranking -------------------------------------------------------
@query(
    "q_rank",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           row_number() OVER w AS rn,
           ntile(4) OVER w AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def q_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc_nulls_last(),
        F.col("c_custkey").asc_nulls_last(),
    )
    return load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


# -- W4a: lag/lead inter-event gap -------------------------------------
@query(
    "q_lag_gap",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           ) AS gap_us,
           lead(event_id) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           ) AS next_event
    FROM events
    """,
)
def q_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    us = F.unix_micros(F.col("ts"))
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("gap_us"),
        F.lead("event_id").over(w).alias("next_event"),
    )


# -- W4b: running aggregate with frame spec ----------------------------
@query(
    "q_running_sum",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w AS running_n,
           CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc_nulls_last(), F.col("event_id").asc_nulls_last()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("running_n"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("running_value"),
    )


# ======================================================================
# §2.7 Set operations
# ======================================================================


@query(
    "q_union",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    UNION
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    errors = ev.filter(F.col("event_type") == "error").select("user_id")
    return clicks.unionByName(errors).distinct()


@query(
    "q_except",
    oracle="""
    SELECT event_id FROM events
    EXCEPT
    SELECT event_id FROM events
    WHERE event_id > (SELECT max(event_id) - 2*(count(*) // 10) FROM events)
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged-offset diff: Range_before EXCEPT Range_after (SURVEY §2.7).

    The retention segment is a tenth of the log (driver scalar, the
    BM25-N pattern) rather than a fixed 1000 so the diff is non-empty
    — and the check non-vacuous — at every test scale factor; a fixed
    segment swallowed the whole sf0.001 log and made the oracle
    compare two empty sets."""
    from ..log.model import retention_filter

    ev = load(spark, sf_dir, "events")
    seg = ev.count() // 10
    retained = retention_filter(ev, seg, "event_id")
    return ev.select("event_id").exceptAll(retained.select("event_id")).distinct()


@query(
    "q_intersect",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return a.intersect(b)


# ======================================================================
# Skew mitigation as declared queries (operators/skew.py) — results
# must equal the unsalted forms, which IS the oracle
# ======================================================================
@query(
    "q_salted_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n_rows,
           count(user_id) AS n_users,
           CAST(sum(TRY_CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           max(event_id) AS max_id
    FROM events
    GROUP BY event_type
    """,
)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators/skew.py::salted_agg):
    the hot-key-safe form whose phase-1 groups by (key, salt) so one
    pathological key spreads over 16 reducers. The oracle is the plain
    GROUP BY — a salted aggregate that changes any value is wrong by
    definition. Decimal sum keeps the merge order-independent, so the
    two-phase result is bit-equal to the one-phase one.
    """
    from ..operators.skew import salted_agg

    ev = load(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,4)")
    )
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n_rows": ("*", "count"),
            "n_users": ("user_id", "count"),
            "sum_value": ("value_dec", "sum"),
            "max_id": ("event_id", "max"),
        },
        salt_from=["event_id"],
        buckets=16,
    )
    return out.select(
        "event_type",
        "n_rows",
        "n_users",
        F.col("sum_value").cast("double").alias("sum_value"),
        "max_id",
    )


@query(
    "q_salted_join",
    oracle="""
    SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact↔dim equi-join (operators/skew.py::salted_join):
    the fact side gets a deterministic xxhash64 salt, the dim side is
    replicated per salt, and the join key becomes (key, salt) — the
    shape for a hot key against a mid-size dim that AQE's skew-join
    splitting cannot broadcast. Oracle = the plain join: salting must
    not change a single row.
    """
    from ..operators.skew import salted_join

    ev = load(spark, sf_dir, "events").select("event_id", "user_id")
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return salted_join(
        ev, cust, on="user_id", buckets=8, fact_salt_from=["event_id"]
    ).select("event_id", "user_id", "segment")
