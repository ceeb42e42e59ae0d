"""Advanced relational surface: remaining join shapes, pivot,
conditional/ordered-set aggregates, analytic windows, scalar
subqueries, deterministic sampling, and TPC-H-style headline queries.

These widen SURVEY §2.3-2.8 beyond the first pass in
``relational_queries.py``: FULL OUTER and CROSS joins, PIVOT,
FILTER-style conditional aggregation, string_agg/collect_set,
exact interpolated percentiles, percent_rank/cume_dist frames, the
scalar-subquery-as-literal pattern, md5-hash deterministic sampling,
and the classic TPC-H Q1/Q3/Q5/Q6/Q18 shapes over the driver star
schema (adapted to the available columns — no l_commitdate /
o_shippriority in the test tables).

Scale posture: every aggregate is partial+final (no
collect-then-group), every small side is broadcast, dates and
thresholds are literals so they reach the parquet scan, and sums that
feed cross-engine comparison go through decimal for order
independence. The TPC-H shapes are the bench headliners — at 100 TB
they exercise the scan→broadcast→shuffle-agg→top-k spine the whole
engine depends on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..state import persist
from ..tables import load



def _dsum(col, scale: int = 2):
    """Order-independent exact sum of a fixed-point double column."""
    return F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double")


# ======================================================================
# §2.3 remaining join shapes
# ======================================================================


# -- J3': full outer join ----------------------------------------------
@query(
    "q_join_full",
    oracle="""
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_name, o.n_orders
    FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 9000) c
    FULL OUTER JOIN (
      SELECT o_custkey, count(*) AS n_orders
      FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey
    ) o ON c.c_custkey = o.o_custkey
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: both unmatched sides survive with NULLs.

    Both inputs are pre-reduced (filter / pre-aggregate) before the
    join — at scale the full-outer shuffle then moves the small
    residue, not the fact table.
    """
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select("c_custkey", "c_name")
    )
    big = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return cust.join(big, cust.c_custkey == big.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        "n_orders",
    )


# -- J: cross join (cartesian of two tiny relations) -------------------
@query(
    "q_join_cross",
    oracle="""
    SELECT r_name, o_orderstatus,
           concat_ws('/', r_name, o_orderstatus) AS cell
    FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny relations (grid expansion).

    Both sides are dimension-sized; Spark picks
    BroadcastNestedLoopJoin. Never valid fact×fact — the engine only
    exposes it behind pre-reduced inputs.
    """
    region = load(spark, sf_dir, "region").select("r_name")
    status = (
        load(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    )
    return region.crossJoin(F.broadcast(status)).select(
        "r_name",
        "o_orderstatus",
        F.concat_ws("/", "r_name", "o_orderstatus").alias("cell"),
    )


# ======================================================================
# §2.4 aggregation extensions
# ======================================================================


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


# -- A3': pivot (rows → typed columns) ---------------------------------
@query(
    "q_pivot",
    oracle="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click')    AS click,
           count(*) FILTER (WHERE event_type = 'error')    AS error,
           count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
           count(*) FILTER (WHERE event_type = 'signup')   AS signup,
           count(*) FILTER (WHERE event_type = 'view')     AS view
    FROM events GROUP BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT events into one column per event_type.

    The pivot value list is explicit — with it, Spark skips the extra
    distinct-values job and the output schema is static (mandatory at
    scale: one pass, partial-aggregated per type).
    """
    piv = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .count()
    )
    # pivot yields NULL for absent (user, type) combos; FILTER-count
    # yields 0 — normalize to the SQL semantics.
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    )


# -- A3'': conditional aggregation (FILTER clause) ---------------------
@query(
    "q_conditional_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n,
           count(*) FILTER (WHERE value > 0.9) AS n_high,
           CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) FILTER (WHERE value > 0.9)
                AS DOUBLE) AS sum_high,
           CAST(count(*) FILTER (WHERE value > 0.9) AS DOUBLE)
             / count(*) AS high_share
    FROM events GROUP BY event_type
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates: one scan, many predicated measures.

    The idiomatic replacement for N self-joins — all measures fold
    into a single partial+final hash aggregate.
    """
    high = F.col("value") > 0.9
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(high, 1)).alias("n_high"),
            F.sum(F.when(high, F.col("value").cast("decimal(18,6)")))
            .cast("double")
            .alias("sum_high"),
            (
                F.count(F.when(high, 1)).cast("double")
                / F.count(F.lit(1))
            ).alias("high_share"),
        )
    )


# -- A: ordered string aggregation (collect_set → string_agg) ----------
@query(
    "q_string_agg",
    oracle="""
    SELECT lang,
           string_agg(source, ',' ORDER BY source) AS sources,
           count(*) AS n_sources
    FROM (SELECT DISTINCT lang, source FROM documents
          WHERE source IS NOT NULL)
    GROUP BY lang
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic string aggregation: collect_set → sort → join.

    ``collect_set`` order is nondeterministic under parallelism;
    ``array_sort`` before ``concat_ws`` makes the result stable — the
    only safe listagg form on a distributed engine.
    """
    return (
        load(spark, sf_dir, "documents")
        # explicit null-source exclusion: collect_set/countDistinct
        # silently drop NULLs but SQL count(*) over a DISTINCT set
        # would count them — filter so both engines see the same rows
        .filter(F.col("source").isNotNull())
        .groupBy("lang")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("source"))).alias(
                "sources"
            ),
            F.countDistinct("source").alias("n_sources"),
        )
    )


# -- A: exact interpolated percentiles ---------------------------------
@query(
    "q_percentile",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type
    """,
)
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (SQL PERCENTILE_CONT).

    Exact percentile requires a per-group sort — fine per bounded
    group; the unbounded-cardinality variant is ``q_approx_aggs``
    (sketches). Rounded to 6 dp: interpolation arithmetic may differ
    in the last ulp across engines.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# -- A': binned mergeable-cell quantiles (the L34-b pattern) ------------
# The grid constants and the cell/readout machinery live in
# functions/sketches.py (shared with QuantileCellStore and the
# streaming ingest, the auc_cells discipline); re-exported here for
# the declared query's consumers.
from ..functions.sketches import (  # noqa: E402
    QB_BUCKETS,
    QB_QS,
    QB_WIDTH,
    quantile_cells,
    quantiles_from_cells,
)


def _percentile_binned_oracle() -> str:
    bucket = f"""CASE WHEN isnan(value) THEN 0
         ELSE CAST(floor(least(greatest(value, 0.0),
                               {QB_BUCKETS * QB_WIDTH - QB_WIDTH})
                         / {QB_WIDTH}) AS BIGINT) END"""
    ests = ",\n           ".join(
        f"round(CAST(min(CASE WHEN cum >= ceil({q} * CAST(n AS DOUBLE))"
        f" THEN qb END) AS DOUBLE) * {QB_WIDTH}, 6)"
        f" AS p{int(round(q * 100))}_bin"
        for q in QB_QS
    )
    return f"""
    WITH cells AS (
      SELECT event_type, {bucket} AS qb, count(*) AS cnt
      FROM events GROUP BY event_type, qb
    ),
    cum AS (
      SELECT event_type, qb, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY qb) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS n
      FROM cells
    )
    SELECT event_type, CAST(max(n) AS BIGINT) AS n,
           {ests}
    FROM cum GROUP BY event_type
    """


@query("q_percentile_binned", oracle=_percentile_binned_oracle())
def q_percentile_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned quantiles over MERGEABLE integer cells — the streaming/
    monitoring form of q_percentile (the L34-b binned-AUC pattern
    applied to quantiles): values quantize onto the fixed
    QB_BUCKETS-cell grid FIRST, the corpus collapses to ≤QB_BUCKETS
    additive (event_type, bucket, count) BIGINT cells in ONE
    map-side-combined hash aggregate, and each quantile reads off the
    cell table as the lower edge of the first bucket whose cumulative
    count reaches ceil(q·n). Exact percentile needs a per-group SORT
    of the raw values (q_percentile's plan) — unusable as a streaming
    monitor; these cells are additive across corpus splits
    (cells(A∪B) = cells(A)+cells(B), pytest-proven) and the estimate
    BRACKETS the exact discrete quantile (the rank-ceil(q·n) order
    statistic) within one cell inside the grid: est ≤ x_(ceil(q·n))
    < est + QB_WIDTH, pytest-proven.

    Scale shape: cells (≤1024/group), not rows, cross the one
    exchange; the cumulative window is PARTITIONED by group over the
    cell table (W1 tiny-prefix territory — never a single-partition
    WindowExec over raw rows). NaN values pin to cell 0 and
    out-of-range values clamp to the edge cells, identically in both
    engines; ceil(q·n) uses one correctly-rounded double product per
    group — both engines round identically. The cells and readout are
    functions/sketches.py machinery, shared with QuantileCellStore
    and the streaming ingest (the auc_cells can't-drift discipline);
    the store's incremental quantiles are bit-identical to this
    query's by cell additivity (pytest)."""
    ev = load(spark, sf_dir, "events")
    return quantiles_from_cells(quantile_cells(ev))


# -- A5': cube + grouping-set identity ---------------------------------
@query(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping sets in one pass, with GROUPING() flags
    disambiguating real NULLs from subtotal rows.

    Spark expands the cube map-side (each row feeds every grouping
    set's partial aggregate) — one shuffle regardless of k.
    """
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("bigint").alias("g_status"),
            F.grouping("o_orderpriority").cast("bigint").alias("g_prio"),
            F.count(F.lit(1)).alias("n"),
            _dsum("o_totalprice").alias("sum_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority",
            "g_status", "g_prio", "n", "sum_price",
        )
    )


# -- A: arg-min/arg-max (min_by / max_by with deterministic ties) ------
@query(
    "q_minmax_by",
    oracle="""
    WITH ranked AS (
      SELECT event_type, event_id, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id DESC) AS rx,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value ASC, event_id ASC) AS rn
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           max(CASE WHEN rx = 1 THEN event_id END) AS best_event,
           max(CASE WHEN rn = 1 THEN event_id END) AS worst_event,
           max(CASE WHEN rx = 1 THEN value END) AS max_value
    FROM ranked GROUP BY event_type
    """,
)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max / arg-min via ``max_by``/``min_by`` over a (value, key)
    struct — the struct's lexicographic order makes ties deterministic
    (plain ``max_by(x, value)`` is nondeterministic when values tie,
    and this table has thousands of ties).

    One hash aggregate; the oracle's window formulation is the
    semantic spec, the struct form is the shuffle-cheap way to run it.
    """
    tie_max = F.struct(F.col("value"), F.col("event_id"))
    return (
        load(spark, sf_dir, "events")
        # null values are not valid arg-min/max operands; Spark's
        # struct comparison would sort them FIRST while SQL ORDER BY
        # defaults to NULLS LAST — excluding them aligns both engines
        .filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.max_by("event_id", tie_max).alias("best_event"),
            F.min_by("event_id", tie_max).alias("worst_event"),
            F.max("value").alias("max_value"),
        )
    )


# -- A: fixed-width histogram ------------------------------------------
@query(
    "q_histogram",
    oracle="""
    SELECT CAST(floor(value / 25.0) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(value), 6) AS lo,
           round(max(value), 6) AS hi
    FROM events WHERE value IS NOT NULL AND isfinite(value)
    GROUP BY bucket
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram as a bucket-key hash aggregate.

    The scalable histogram form: bucket id is computed row-side (no
    sort, no pass over sorted data), so the shuffle carries only
    #buckets groups however large the input.
    """
    ev = load(spark, sf_dir, "events")
    return (
        # NaN/NULL/±inf quarantined: Spark folds non-finite values
        # into NULL buckets via the cast while the SQL cast errors —
        # exclude in both engines (oracle: isfinite)
        ev.filter(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & (F.abs("value") != F.lit(float("inf")))
        )
        .groupBy(
            F.floor(F.col("value") / 25.0).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


# ======================================================================
# §2.5 analytic-window extensions
# ======================================================================


@query(
    "q_window_analytics",
    oracle="""
    SELECT event_id, event_type,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           first_value(event_id) OVER w AS first_ev,
           last_value(event_id) OVER (
             PARTITION BY event_type ORDER BY value, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_ev
    FROM events
    WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
)
def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / first_value / last_value frames.

    ``last_value`` needs the explicit UNBOUNDED FOLLOWING frame (the
    default frame ends at CURRENT ROW — a classic correctness trap in
    both engines, reproduced identically here).
    """
    # explicit NULLS LAST: Spark's ascending default is nulls-FIRST,
    # SQL window ORDER BY defaults to nulls-LAST — one null value would
    # otherwise shift every rank in the partition
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), F.col("event_id").asc_nulls_last()
    )
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("event_id").over(w).alias("first_ev"),
        F.last("event_id").over(w_full).alias("last_ev"),
    )


# -- W: time-interval RANGE frame --------------------------------------
@query(
    "q_range_frame",
    oracle="""
    SELECT event_id, user_id,
           CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS hour_sum,
           count(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS hour_n
    FROM events
    """,
)
def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding time-window analytics as a RANGE frame: per event, the
    trailing-hour sum/count for that user.

    RANGE (value-based) frames differ from ROWS frames exactly when
    timestamps tie — peers enter the frame together; both engines
    implement the SQL-standard semantics, so this is also a tie-
    handling conformance check. Per-user partitions keep the sort
    bounded per key.
    """
    ev = load(spark, sf_dir, "events")
    frame = (
        "OVER (PARTITION BY user_id ORDER BY ts "
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)"
    )
    return ev.selectExpr(
        "event_id",
        "user_id",
        "CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) "
        f"{frame} AS DOUBLE) AS hour_sum",
        f"count(*) {frame} AS hour_n",
    )


# ======================================================================
# §2.8 scalar subquery as literal + deterministic sampling
# ======================================================================


@query(
    "q_regexp_funcs",
    oracle="""
    SELECT doc_id,
           regexp_extract(text, '([a-z]+)', 1) AS first_word,
           CAST(len(regexp_extract_all(text, 'scan')) AS BIGINT) AS n_scan,
           CAST(len(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
             AS no_vowel_chars
    FROM documents
    """,
)
def q_regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar family: extract / count-matches / global replace.

    Patterns stay in the POSIX-common subset (character classes,
    literals) where Java and RE2 regex semantics agree. All three run
    inside whole-stage codegen — regex at 100 TB is fine when it's
    JVM-side; it's the Python-UDF regex loop that isn't.
    """
    ev = load(spark, sf_dir, "documents")
    return ev.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+)", 1).alias("first_word"),
        F.regexp_count("text", F.lit("scan")).cast("bigint").alias("n_scan"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).cast(
            "bigint"
        ).alias("no_vowel_chars"),
    )


@query(
    "q_variant_json",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
           TRY_CAST(json_extract(props, '$.missing') AS INTEGER) AS absent
    FROM events
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through Spark 4's VARIANT type:
    ``parse_json`` once, then typed ``variant_get`` paths.

    VARIANT stores the parsed binary form, so repeated path accesses
    skip re-parsing the JSON text (the from_json/get_json_object
    forms in q_json_extract re-parse per expression) — the right
    encoding for the reference's dynamic ``props`` payload (SURVEY
    §1.2) at scan-heavy scale. Missing paths are NULL, matching SQL
    JSON semantics.
    """
    ev = load(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").alias("k_val"),
        F.try_variant_get(v, "$.missing", "int").alias("absent"),
    )


@query(
    "q_try_funcs",
    oracle="""
    SELECT event_id,
           TRY_CAST(event_type AS INTEGER) AS bad_cast,
           TRY_CAST(CAST(user_id AS VARCHAR) AS INTEGER) AS good_cast,
           CASE WHEN user_id % 7 = 0 THEN NULL
                ELSE round(value / (user_id % 7), 6) END AS safe_div
    FROM events
    """,
)
def q_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar family: ``try_cast`` / ``try_divide``.

    Malformed input yields NULL instead of a failed 100 TB job — the
    engine's equivalent of the reference's 400-not-500 boundary
    mapping (cmd/server/server.go:285-288): bad records degrade to
    NULL rows the pipeline can quarantine, never a crashed query.
    """
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("TRY_CAST(event_type AS INT)").alias("bad_cast"),
        F.expr("TRY_CAST(CAST(user_id AS STRING) AS INT)").alias(
            "good_cast"
        ),
        F.round(
            F.try_divide(F.col("value"), F.col("user_id") % 7), 6
        ).alias("safe_div"),
    )


@query(
    "q_fuzzy_match",
    oracle="""
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM (SELECT DISTINCT p_name FROM part) a
    JOIN (SELECT DISTINCT p_name FROM part) b
      ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy name matching: blocked self-join + edit-distance filter.

    The O(n²) quadratic pair space is cut by (1) deduplicating to
    distinct names first and (2) an equi-join on a blocking key (first
    token) so only same-block pairs are ever scored — the same
    block-before-score shape as the near-dup operators
    (functions/dedup.py); levenshtein runs codegen'd JVM-side.
    """
    names = (
        load(spark, sf_dir, "part").select("p_name").distinct()
    )
    block = F.split(F.col("p_name"), " ").getItem(0)
    a = names.select(
        F.col("p_name").alias("name_a"), block.alias("block_a")
    )
    b = names.select(
        F.col("p_name").alias("name_b"), block.alias("block_b")
    )
    return (
        a.join(
            b,
            (F.col("block_a") == F.col("block_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn(
            "dist",
            F.levenshtein("name_a", "name_b").cast("bigint"),
        )
        .filter(F.col("dist") <= 3)
        .select("name_a", "name_b", "dist")
    )


@query(
    "q_subquery_scalar",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_price
    FROM lineitem
    WHERE l_extendedprice > (
      SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / count(l_extendedprice)
      FROM lineitem)
    GROUP BY l_returnflag
    """,
)
def q_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery executed as a bound-then-literal predicate.

    The 1-row aggregate runs first; its value becomes a literal in the
    main predicate so it reaches the parquet scan as a PushedFilter
    (row-group min/max pruning). A joined 1-row bound would keep the
    plan lazy but scan everything. The average itself goes through
    decimal so it is partial-aggregation-order independent.
    """
    li = load(spark, sf_dir, "lineitem")
    # exact decimal sum then ONE double division: Spark's avg(decimal)
    # rounds to 6 dp (decimal(22,6)) while DuckDB's is full-precision —
    # sum/count is bit-identical in both engines
    row = li.agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast(
                "double"
            )
            / F.count("l_extendedprice")
        ).alias("t")
    ).first()
    if row[0] is None:  # empty input: oracle's scalar is NULL → 0 rows
        return li.filter(F.lit(False)).groupBy("l_returnflag").agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("l_extendedprice").alias("sum_price"),
        )
    threshold = float(row[0])
    return (
        li.filter(F.col("l_extendedprice") > F.lit(threshold))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("l_extendedprice").alias("sum_price"),
        )
    )


@query(
    "q_sample",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE ('0x' || substr(md5(l_orderkey::VARCHAR || '#'
                              || l_linenumber::VARCHAR), 1, 15))::BIGINT
          % 10 = 0
    GROUP BY l_returnflag
    """,
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% hash sample (seeded on the row's natural key).

    ``TABLESAMPLE``/``df.sample`` are engine- and partitioning-
    dependent; hashing the natural key is reproducible across engines,
    scales (a row keeps its sample fate as data grows), and cluster
    layouts — the only sampling form admissible in a training-data
    pipeline where reruns must agree. md5 is codegen'd JVM-side; no
    Python in the path.
    """
    li = load(spark, sf_dir, "lineitem")
    rowkey = F.concat_ws(
        "#", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    bucket = F.conv(F.substring(F.md5(rowkey), 1, 15), 16, 10).cast(
        "long"
    ) % 10
    return (
        li.filter(bucket == 0)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("l_quantity").alias("sum_qty"),
        )
    )


@query(
    "q_sample_stratified",
    oracle="""
    SELECT event_type, count(*) AS n,
           CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT % 20
          < CASE event_type WHEN 'click' THEN 1 ELSE 4 END
    GROUP BY event_type
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum rates off one
    hash (click 5%, everything else 20%).

    The distributed replacement for ``df.sampleBy`` — partitioning-
    independent and rerun-stable, which matters when a training-data
    pipeline downsamples dominant classes and must reproduce the
    exact sample on re-execution.
    """
    ev = load(spark, sf_dir, "events")
    bucket = F.conv(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
    ).cast("long") % 20
    rate = F.when(F.col("event_type") == "click", 1).otherwise(4)
    return (
        ev.filter(bucket < rate)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dsum("value", 6).alias("sum_value"),
        )
    )


# ======================================================================
# Embedding centroids (vector agg; feeds IVF training)
# ======================================================================


@query(
    "q_embed_centroid",
    oracle="""
    SELECT label, pos, CAST(sum(v) AS DOUBLE) / count(*) AS centroid
    FROM (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS pos,
             TRY_CAST(CAST(unnest(embedding) AS DOUBLE)
                      AS DECIMAL(27,10)) AS v
      FROM embeddings
    )
    GROUP BY label, pos
    """,
)
def q_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise centroid of the embedding column.

    posexplode → (label, pos) hash aggregate: fully partial-aggregated
    and shuffle-bounded by labels × dims (not by rows), so it holds at
    100 TB. This is exactly the k-means update step IVF training uses
    (``functions/vectors.py``). Float values pass through double →
    decimal so the sum is order-independent and cross-engine exact.
    """
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("v").cast("double").cast("decimal(27,10)").alias("v"),
    )
    return exploded.groupBy("label", "pos").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("centroid")
    )


@query(
    "q_profile",
    oracle="""
    SELECT 'events' AS tbl, count(*) AS n,
           count(*) - count(props) AS null_props,
           count(DISTINCT user_id) AS distinct_users,
           count(DISTINCT event_type) AS distinct_types,
           CAST(min(ts) AS TIMESTAMP) AS min_ts,
           CAST(max(ts) AS TIMESTAMP) AS max_ts,
           round(CAST(sum(TRY_CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 / count(value), 6) AS mean_value,
           CAST(min(len(props)) AS BIGINT) AS min_props_len,
           CAST(max(len(props)) AS BIGINT) AS max_props_len
    FROM events
    """,
)
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling in one pass: row count, null counts, distincts,
    ranges, exact mean — the table-health report a pipeline runs
    before trusting an input drop.

    All measures fold into ONE aggregate over one scan (no per-column
    jobs, no ``describe()``-style collect); the two count-distincts
    expand to the standard expand+two-round plan. The mean goes
    through decimal so reruns and engines agree exactly.
    """
    ev = load(spark, sf_dir, "events")
    return ev.agg(
        F.lit("events").alias("tbl"),
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("props")).alias("null_props"),
        F.countDistinct("user_id").alias("distinct_users"),
        F.countDistinct("event_type").alias("distinct_types"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("value"),
            6,
        ).alias("mean_value"),
        F.min(F.length("props")).cast("bigint").alias("min_props_len"),
        F.max(F.length("props")).cast("bigint").alias("max_props_len"),
    )


# ======================================================================
# Sessionization (batch gaps-and-islands) + grouping sets + search
# ======================================================================


_SESSION_GAP_US = 4 * 3600 * 1_000_000  # 4 h inactivity


@query(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       > 14400000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gaps-and-islands entirely in window
    functions (the batch analog of ``streaming/stateful.py::
    sessionize`` — same 'new session when gap > threshold' semantics,
    zero Python in the path).

    lag → boundary flag → running sum = session id → hash aggregate.
    Partitioned by user, so every window is per-key bounded and the
    job scales with users, not with the single timeline.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flag = F.when(us - F.lag(us).over(w) > _SESSION_GAP_US, 1).otherwise(0)
    running = (
        F.sum(flag)
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint")
    )
    return (
        ev.select("user_id", "ts", running.alias("session_id"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT r_name, n_name,
           CAST(GROUPING(r_name) AS BIGINT) AS g_r,
           CAST(GROUPING(n_name) AS BIGINT) AS g_n,
           count(*) AS n
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name), (n_name), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither rollup nor cube): independent
    per-region and per-nation totals plus the grand total in ONE pass.

    Exercised through the engine's SQL surface (temp views +
    ``spark.sql``) — the declarative form compiles to the same single
    Expand + shuffle as the DataFrame cube/rollup.
    """
    load(spark, sf_dir, "customer").createOrReplaceTempView("v_customer")
    load(spark, sf_dir, "nation").createOrReplaceTempView("v_nation")
    load(spark, sf_dir, "region").createOrReplaceTempView("v_region")
    return spark.sql(
        """
        SELECT r_name, n_name,
               CAST(GROUPING(r_name) AS BIGINT) AS g_r,
               CAST(GROUPING(n_name) AS BIGINT) AS g_n,
               count(*) AS n
        FROM v_customer
        JOIN v_nation ON c_nationkey = n_nationkey
        JOIN v_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (n_name), ())
        """
    )


@query(
    "q_cogroup_recon",
    oracle="""
    SELECT coalesce(e.user_id, o.o_custkey) AS user_id,
           coalesce(e.n_events, 0) AS n_events,
           coalesce(o.n_orders, 0) AS n_orders,
           coalesce(e.n_events, 0) - coalesce(o.n_orders, 0) AS gap
    FROM (SELECT user_id, count(*) AS n_events FROM events
          WHERE user_id IS NOT NULL GROUP BY user_id) e
    FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders FROM orders
                     WHERE o_custkey <= 200 AND o_custkey IS NOT NULL
                     GROUP BY o_custkey) o
      ON e.user_id = o.o_custkey
    """,
)
def q_cogroup_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key reconciliation through ``cogroup`` + ``applyInPandas``:
    both sides of a key arrive in ONE Python function call as two
    pandas frames (SURVEY §2.10's two-input UDTF analog).

    The declarative equivalent (full outer join of two aggregates) is
    what the oracle runs — and what production should prefer; cogroup
    is the escape hatch for per-key logic joins can't express
    (sequence alignment, per-key reconciliation loops, custom merges).
    Both sides shuffle once on the key; Python sees one key's rows at
    a time, never the corpus.
    """
    import pandas as pd

    # null keys out: cogroup would pair NULL with NULL as one group,
    # a FULL OUTER JOIN never matches NULL = NULL — with nulls excluded
    # both formulations agree
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select("user_id")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull() & (F.col("o_custkey") <= 200))
        .select(F.col("o_custkey").alias("user_id"))
    )

    def recon(key: tuple, left: pd.DataFrame, right: pd.DataFrame):
        n_e, n_o = len(left), len(right)
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n_e],
                "n_orders": [n_o],
                "gap": [n_e - n_o],
            }
        )

    return (
        ev.groupBy("user_id")
        .cogroup(orders.groupBy("user_id"))
        .applyInPandas(
            recon,
            "user_id bigint, n_events bigint, n_orders bigint, gap bigint",
        )
    )


@query(
    "q_grouped_map_stats",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n,
           any_value(m.med) AS med_value,
           median(abs(e.value - m.med)) AS mad_value
    FROM events e JOIN med m
      ON e.event_type IS NOT DISTINCT FROM m.event_type
    GROUP BY e.event_type
    """,
)
def q_grouped_map_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas`` (the §2.10 surface distinct from
    grouped-AGG pandas_udf and cogroup): one Python call receives a
    whole group as a pandas frame and returns an arbitrary-shape
    frame. The workload is per-group robust stats — median + median
    absolute deviation — the outlier-fence step of a telemetry
    pipeline. Median/MAD are SORT-based (no summation), so unlike
    mean/stddev they replay bit-for-bit in the oracle: both engines
    average the two middle doubles for even n, and |x - med| is exact
    IEEE arithmetic.

    Scale: one shuffle on the group key; Python sees one group at a
    time, never the corpus. Skewed group sizes are the known hazard of
    grouped-map (a 10%-of-corpus group serializes into one worker) —
    for heavy keys, pre-aggregate or use the salted path
    (q_salted_agg); this query's groups are the bounded event_type
    dimension."""
    import pandas as pd

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        med = pdf["value"].median()
        mad = (pdf["value"] - med).abs().median()
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(pdf)],
                "med_value": [med],
                "mad_value": [mad],
            }
        )

    return (
        load(spark, sf_dir, "events")
        .select("event_type", "value")
        .groupBy("event_type")
        .applyInPandas(
            stats,
            "event_type string, n bigint, med_value double, "
            "mad_value double",
        )
    )


_CHUNK_SIZE, _CHUNK_STRIDE, _CHUNK_OVERLAP = 200, 150, 50


@query(
    "q_chunk_text",
    oracle="""
    SELECT doc_id,
           CAST(start / 150 AS BIGINT) AS chunk_id,
           CAST(start AS BIGINT) AS start,
           CAST(len(substr(text, start + 1, 200)) AS BIGINT) AS chunk_chars,
           md5(substr(text, start + 1, 200)) AS chunk_hash
    FROM (
      SELECT doc_id, text,
             unnest(range(0, greatest(len(text) - 50, 1), 150)) AS start
      FROM documents
    )
    """,
)
def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: overlapping 200-char windows with a
    150-char stride, entirely JVM-side.

    ``sequence`` builds the start offsets, ``explode`` fans them out,
    ``substring`` cuts the windows — no Python in the path, and the
    fan-out factor is (len/stride), so the stage stays a narrow map:
    chunking 100 TB of documents is shuffle-free. Chunks travel as
    (start, length, hash) — position + fingerprint — rather than
    duplicated text; downstream embedding stages read the slice lazily.
    """
    docs = load(spark, sf_dir, "documents")
    # exclusive upper bound like DuckDB range(): sequence's inclusive
    # end is bound-1
    bound = F.greatest(
        F.length("text") - _CHUNK_OVERLAP, F.lit(1)
    )
    starts = F.sequence(F.lit(0), bound - 1, F.lit(_CHUNK_STRIDE))
    chunk = F.substring(
        F.col("text"), F.col("start") + 1, _CHUNK_SIZE
    )
    return (
        docs.select("doc_id", "text", F.explode(starts).alias("start"))
        .select(
            "doc_id",
            (F.col("start") / _CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
            F.col("start").cast("bigint").alias("start"),
            F.length(chunk).cast("bigint").alias("chunk_chars"),
            F.md5(chunk).alias("chunk_hash"),
        )
    )


CMS_D, CMS_W = 4, 1024


def _cms_oracle() -> str:
    """Replays the sketch: same d row-hashes (the functions.sketches
    ``key#row`` md5 convention), same W buckets, same min — a
    Count-Min estimate is a pure function of the data, so the
    'approximate' operator is still an exact value-hash check."""
    tok = (
        "SELECT w AS token FROM documents, "
        "unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(w) "
        "WHERE w <> ''"
    )

    def bucket(expr: str, j: str) -> str:
        return (
            f"('0x' || substr(md5({expr} || '#' || CAST({j} AS VARCHAR)),"
            f" 1, 15))::BIGINT % {CMS_W}"
        )

    return f"""
    WITH tok AS ({tok}),
    rows_ AS (
      SELECT j, {bucket("token", "j")} AS bucket
      FROM tok CROSS JOIN (SELECT unnest(range(0, {CMS_D})) AS j) d
    ),
    cms AS (SELECT j, bucket, count(*) AS c FROM rows_ GROUP BY j, bucket),
    top AS (
      SELECT token, count(*) AS n_exact FROM tok
      GROUP BY token ORDER BY n_exact DESC, token LIMIT 20
    ),
    probes AS (
      SELECT token, n_exact, j, {bucket("token", "j")} AS bucket
      FROM top CROSS JOIN (SELECT unnest(range(0, {CMS_D})) AS j) d
    )
    SELECT p.token AS token, any_value(p.n_exact) AS n_exact,
           min(cms.c) AS n_cms
    FROM probes p JOIN cms ON cms.j = p.j AND cms.bucket = p.bucket
    GROUP BY p.token
    """


@query("q_sketch_cms", oracle=_cms_oracle())
def q_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimation (Cormode & Muthukrishnan):
    d=4 hash rows × W=1024 buckets of token counts, point estimate =
    min over rows. THE bounded-state frequency structure at 100 TB —
    sketch state is d·W cells however large the vocabulary, the
    sketch is a one-shuffle aggregate (mergeable across shards by
    cell-wise addition), and estimates only ever overestimate
    (n_cms >= n_exact, asserted in tests). Unlike SPARK'S OWN sketch
    aggregates (HLL++/KLL engine-internal state → rows-only
    q_approx_aggs), the CMS estimate is a deterministic function of
    the data — the same argument that makes q_sketch_hll's
    from-scratch HLL (r13) fully oracled — so the
    oracle replays every estimate exactly.

    Returns the exact global top-20 tokens with exact and estimated
    counts — the validation view a production rollout would sample.
    The sketch-build shape and the ``key#row`` hashing convention are
    functions.sketches (cms_build/_bucket, driver-collected form,
    property-tested in tests/test_approx_aggs.py); this query keeps
    the sketch distributed and probes it with a broadcast join —
    the shape a shared long-lived sketch table would use."""
    from ..functions.sketches import _bucket

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda w: w != "",
            )
        ).alias("token")
    )
    # one pass over the token stream: the sketch builds from the
    # vocabulary-sized word-count table (sum of per-word counts into a
    # bucket == occurrence count of the bucket), so the d-way explode
    # fans out over |vocab| rows, not the token stream, and the same
    # persisted table feeds the exact top-k — at 100 TB vocabulary is
    # orders of magnitude smaller than tokens
    wc = persist(
        tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_exact"))
    )
    cms = (
        wc.select(
            F.posexplode(
                F.array(
                    *[
                        _bucket(F.col("token"), r, CMS_W)
                        for r in range(CMS_D)
                    ]
                )
            ).alias("j", "bucket"),
            "n_exact",
        )
        .groupBy("j", "bucket")
        .agg(F.sum("n_exact").cast("long").alias("c"))
    )
    top = wc.orderBy(F.desc("n_exact"), "token").limit(20)
    probes = top.select(
        "token",
        "n_exact",
        F.posexplode(
            F.array(
                *[_bucket(F.col("token"), r, CMS_W) for r in range(CMS_D)]
            )
        ).alias("j", "bucket"),
    )
    return (
        probes.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("token")
        .agg(
            F.first("n_exact").alias("n_exact"),
            F.min("c").alias("n_cms"),
        )
    )


def _hll_oracle() -> str:
    """Replays the md5-register HLL exactly: 60-bit portable hash,
    low-8 bucket bits, leading-zero rank over the shifted window via
    integer bit-length (``length(bin(w))`` ≡ Spark's
    ``length(conv(w, 10, 2))``), per-bucket MAX registers, and the
    exact-BIGINT scaled indicator sum — only the final division (and
    the linear-counting ln in the small range) is float, rounded to
    4 decimals after identical literals in both engines."""
    from ..functions.sketches import (
        HLL_ALPHA_M2,
        HLL_M,
        HLL_P,
        HLL_RANK_MAX,
    )

    day_us = 86_400_000_000
    pow_max = 1 << HLL_RANK_MAX
    return f"""
    WITH ah AS (
      SELECT CAST(floor(epoch_us(ts) / {day_us}.0) AS BIGINT) AS d,
             user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    regs AS (
      SELECT d, CAST(hv & {HLL_M - 1} AS INT) AS bucket,
             max(CASE WHEN (hv >> {HLL_P}) > 0
                      THEN {HLL_RANK_MAX} - length(bin(hv >> {HLL_P}))
                      ELSE {HLL_RANK_MAX} END) AS r
      FROM ah GROUP BY 1, 2
    ),
    z AS (
      SELECT d,
             sum(CAST(1 AS BIGINT) << ({HLL_RANK_MAX} - r)) AS z_present,
             count(*) AS present
      FROM regs GROUP BY d
    ),
    zz AS (
      -- decimal-point literals parse as DECIMAL in DuckDB; every
      -- float term is CAST to DOUBLE so the arithmetic is IEEE
      -- double like Spark's, not fixed-point
      SELECT d, present,
             CAST({HLL_ALPHA_M2!r} AS DOUBLE)
               * CAST({float(pow_max)!r} AS DOUBLE)
               / CAST(z_present
                      + ({HLL_M} - present) * CAST({pow_max} AS BIGINT)
                      AS DOUBLE) AS raw
      FROM z
    ),
    est AS (
      SELECT d,
             CASE WHEN raw <= CAST({2.5 * HLL_M!r} AS DOUBLE)
                   AND present < {HLL_M}
                  THEN round(CAST({float(HLL_M)!r} AS DOUBLE)
                             * ln(CAST({float(HLL_M)!r} AS DOUBLE)
                                  / CAST({HLL_M} - present AS DOUBLE)),
                             4)
                  ELSE round(raw, 4)
             END AS est_dau
      FROM zz
    ),
    exact AS (
      SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_dau
      FROM ah GROUP BY d
    )
    SELECT e.d * {day_us} AS day_us,
           x.exact_dau,
           e.est_dau,
           round(abs(e.est_dau - CAST(x.exact_dau AS DOUBLE))
                 / CAST(x.exact_dau AS DOUBLE), 4) AS rel_err
    FROM est e JOIN exact x USING (d)
    """


@query("q_sketch_hll", oracle=_hll_oracle())
def q_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct counting (Flajolet et al. 2007) — the
    third classic sketch beside CMS (frequency) and Bloom
    (membership), here as DAU-per-day over the event log: ≤ m=256
    MAX-mergeable register cells per day however many users exist,
    probed next to the exact count(DISTINCT) with the relative
    error. THE bounded-state distinct structure at 100 TB: registers
    merge across shards/batches by per-bucket MAX (HllStore is the
    incremental form).

    Unlike Spark's approx_count_distinct (engine-internal HLL++ →
    rows-only q_approx_aggs), every piece of THIS estimate is a
    deterministic function of the data through engine-portable
    primitives — the md5 60-bit hash, integer bit-length for the
    leading-zero rank, an exact-BIGINT scaled indicator sum (Σ 2^(Rmax−r)
    — dyadic terms summed as integers, so accumulation order cannot
    matter), one float division + the standard small-range
    linear-counting branch — so the DuckDB oracle replays every
    register and every estimate bit-for-bit. Measured accuracy on
    the driver corpus: ≤ ~2% relative error per day (the 1.04/√256
    bound is 6.5%); the rel_err column IS the validation view.

    Scale shape: one map-side-combined register aggregate over the
    event stream (≤ m rows per day out), one 30-row join against the
    exact counts — the exact side exists only because the query IS
    the accuracy harness; production reads estimates alone."""
    from ..functions.sketches import hll_cells, hll_estimates

    ev = load(spark, sf_dir, "events")
    base = ev.filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.floor(
            F.unix_micros(F.col("ts")) / F.lit(86_400_000_000.0)
        )
        .cast("long")
        .alias("d"),
        "user_id",
    )
    est = hll_estimates(
        hll_cells(base, "user_id", ["d"]), ["d"]
    ).withColumnRenamed("est_distinct", "est_dau")
    exact = base.groupBy("d").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_dau")
    )
    return est.join(exact, "d").select(
        (F.col("d") * F.lit(86_400_000_000)).alias("day_us"),
        "exact_dau",
        "est_dau",
        F.round(
            F.abs(F.col("est_dau") - F.col("exact_dau").cast("double"))
            / F.col("exact_dau").cast("double"),
            4,
        ).alias("rel_err"),
    )


@query(
    "q_top_words",
    oracle="""
    SELECT w AS token, count(*) AS n
    FROM documents,
         unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(w)
    WHERE w <> ''
    GROUP BY w
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def q_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: exact global top-k terms, two-phase.

    Phase 1 shuffles once on the token for exact counts (partial
    map-side combine keeps the shuffle vocabulary-bounded); phase 2 is
    a TakeOrderedAndProject heap — the full sorted term list never
    materializes. Tie-break on the token keeps top-k stable.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


_SEARCH_TERMS = ["hash", "join", "vector"]


@query(
    "q_search_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN ('hash', 'join', 'vector') GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok
      WHERE term IN ('hash', 'join', 'vector') GROUP BY term
    ), n AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id,
           round(sum(tf * ln(n.n / df)), 6) AS score
    FROM tf JOIN df USING (term), n
    GROUP BY doc_id
    ORDER BY score DESC, doc_id
    LIMIT 20
    """,
)
def q_search_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search: TF-IDF scoring over the documents table.

    tokenize → filter to query terms **before** any aggregation (the
    scan output is |terms|-bounded, not vocabulary-bounded) → term
    frequencies and document frequencies as two thin aggregates → a
    broadcast join (df is |query terms| rows) → per-doc score → top-20
    heap. N arrives as a literal via the 1-row scalar pre-query.
    Scores rounded to 6 dp: ln() may differ in the last ulp across
    libm implementations.
    """
    docs = load(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    tokens = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("term"),
    ).filter(F.col("term").isin(_SEARCH_TERMS))
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tokens.distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("tf") * F.log(F.lit(n_docs) / F.col("df"))), 6
            ).alias("score")
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


# ======================================================================
# §2.10 Python UDTF surface
# ======================================================================


@query(
    "q_udtf_props",
    oracle="""
    SELECT event_id, k AS key,
           json_extract_string(props, '$."' || k || '"') AS value
    FROM (
      SELECT event_id, props, unnest(json_keys(props)) AS k
      FROM events
    )
    """,
)
def q_udtf_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in a LATERAL join: explode the dynamic props JSON
    into rows (the reference's per-type extra fields, SURVEY §1.2).

    This is the extensibility-surface check — Arrow-batched Python
    table function driven from SQL. The production form of this exact
    semantics is JVM-side ``explode(from_json(...))`` (q_map_funcs);
    see functions/udtf_ops.py for when each applies.
    """
    from ..functions.udtf_ops import register_udtfs

    register_udtfs(spark)
    load(spark, sf_dir, "events").createOrReplaceTempView("v_events_udtf")
    return spark.sql(
        """
        SELECT e.event_id, j.key, j.value
        FROM v_events_udtf e, LATERAL explode_props(e.props) j
        """
    )


# ======================================================================
# End-to-end training-data prep (the north-star composition)
# ======================================================================


@query(
    "q_pipeline_prep",
    oracle=r"""
    WITH keepers AS (
      SELECT min(doc_id) AS doc_id
      FROM documents
      GROUP BY lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'), ' '))
    ), kept AS (
      SELECT d.doc_id, d.lang, d.text
      FROM documents d JOIN keepers USING (doc_id)
      WHERE len(d.text) >= 150
        AND ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 2 = 0
    ), chunks AS (
      SELECT doc_id, lang, text,
             unnest(range(0, greatest(len(text) - 50, 1), 150)) AS start
      FROM kept
    )
    SELECT lang,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS n_chunks,
           CAST(sum(len(substr(text, start + 1, 200))) AS BIGINT)
             AS total_chars
    FROM chunks GROUP BY lang
    """,
)
def q_pipeline_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star composition in one declarative plan: exact dedup
    → quality filter → deterministic 50% sample → RAG chunking →
    per-language corpus stats.

    Every stage reuses an operator that is independently oracled
    (q_dedup_exact / q_quality_score's length filter / q_sample /
    q_chunk_text), composed lazily so Catalyst optimizes ACROSS stage
    boundaries: the length + hash-sample predicates run before the
    dedup join's shuffle, and only keeper doc_ids move. This is the
    query shape a 100 TB pre-training corpus prep actually runs.
    """
    from ..functions.dedup import normalize_text

    docs = load(spark, sf_dir, "documents")
    # group by md5 of the normalized text: identical groups, 16-byte
    # shuffle keys instead of whole documents (see exact_dedup_keepers)
    keepers = docs.groupBy(
        F.md5(normalize_text(F.col("text"))).alias("__nh")
    ).agg(F.min("doc_id").alias("doc_id"))
    sample_ok = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % 2
        == 0
    )
    kept = (
        docs.filter((F.length("text") >= 150) & sample_ok)
        .join(keepers.select("doc_id"), "doc_id", "left_semi")
    )
    bound = F.greatest(F.length("text") - _CHUNK_OVERLAP, F.lit(1))
    starts = F.sequence(F.lit(0), bound - 1, F.lit(_CHUNK_STRIDE))
    chunk = F.substring(F.col("text"), F.col("start") + 1, _CHUNK_SIZE)
    return (
        kept.select(
            "doc_id", "lang", "text", F.explode(starts).alias("start")
        )
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.length(chunk)).cast("bigint").alias("total_chars"),
        )
    )


# ======================================================================
# TPC-H headline shapes (bench spine)
# ======================================================================


@query(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                         AS DECIMAL(22,6))) AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             / count(*) AS avg_qty,
           CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
             / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: the canonical scan→agg throughput probe.

    One parquet scan with a pushed date filter, 6 measures folded into
    a single partial+final hash aggregate over a 6-group key space —
    the shape AQE coalesces to near-zero shuffle. Double products are
    IEEE-identical cross-engine; sums go through decimal.

    ``spread`` matters here specifically: the partial aggregate (six
    decimal casts per row — the expensive part) runs in the scan
    stage, and the single-row-group test parquet scans as ONE task.
    Widening first moves the decimal work onto every core; on a real
    multi-row-group layout it is a no-op.
    """
    from ..tables import spread

    li = spread(
        load(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate")
            <= F.lit("2000-12-01 00:00:00").cast("timestamp")
        )
    )
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,6)"
    )
    charge = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    ).cast("decimal(22,6)")
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum("l_quantity").alias("sum_qty"),
            _dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (_dsum("l_quantity") / n).alias("avg_qty"),
            (_dsum("l_discount", 6) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


@query(
    "q_tpch_q3",
    oracle="""
    SELECT l_orderkey,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority (adapted: o_orderpriority stands in
    for the absent o_shippriority column).

    Selective dim filter broadcast into the fact join, pushed date
    predicates on both scans, then top-10 via TakeOrderedAndProject —
    no global sort materializes. Tie-break on l_orderkey keeps the
    LIMIT deterministic cross-engine.
    """
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp")
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,6)"
    )
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5",
    oracle="""
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,6))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: the 6-way join spine.

    Join order is written smallest-out: region→nation→supplier are
    broadcast stages that never shuffle the facts; only
    orders⋈lineitem is a real shuffle (on the same key both sides —
    one exchange each). The c_nationkey = s_nationkey condition rides
    the supplier broadcast.
    """
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,6)"
    )
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supp = load(spark, sf_dir, "supplier").join(
        F.broadcast(nations),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(supp),
            li.l_suppkey == supp.s_suppkey,
        )
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(
            F.broadcast(cust),
            (F.col("o_custkey") == cust.c_custkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(22,6)))
                AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast revenue: pure pushed-filter scan + global agg.

    All four predicates reach the parquet reader (PushedFilters →
    row-group stats pruning); the aggregate is a 1-group partial+final
    — the minimal-I/O probe of the scan path.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    rev = (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(22,6)")
    return li.agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 order-priority check (adapted: 'late' = shipped more
    than 60 days after order date — the test schema has no
    commitdate/receiptdate pair).

    EXISTS with a correlated non-equi condition compiles to a left-semi
    join: the equi part (orderkey) carries the shuffle/broadcast and
    the date comparison rides as the join residual — no pair blow-up,
    no distinct needed (semi joins dedup by construction).
    """
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (
                li.l_shipdate
                > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "q_tpch_q22",
    oracle="""
    SELECT c_mktsegment, count(*) AS numcust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS totacctbal
    FROM customer c
    WHERE c_acctbal > (
        SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(c_acctbal)
        FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
    GROUP BY c_mktsegment
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 global-sales-opportunity shape (adapted: mktsegment
    stands in for the phone country code): rich customers with no
    large orders. The "large order" cutoff is 400000 (not TPC-H's
    literal) so the query is non-vacuous at every shipped scale factor
    including sf0.001 (selfcheck VACUOUS guard; at 250000 every rich
    sf0.001 customer owns a large order and the result is empty).

    Combines both subquery forms the engine supports: the scalar
    subquery runs bound-then-literal (predicate reaches the scan) and
    NOT EXISTS is a left-anti join on the order keys — at scale the
    anti join's right side is a pre-projected single column.
    """
    cust = load(spark, sf_dir, "customer")
    # exact sum / count (not avg(decimal), which rounds to 6 dp); see
    # q_subquery_scalar
    row = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count("c_acctbal")
            ).alias("t")
        )
        .first()
    )
    if row[0] is None:
        return cust.filter(F.lit(False)).groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal"),
        )
    threshold = float(row[0])
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_custkey")
    )
    return (
        cust.filter(F.col("c_acctbal") > F.lit(threshold))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum("c_acctbal").alias("totacctbal"),
        )
    )


@query(
    "q_tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 supplier-diversity report (adapted: l_suppkey plays
    partsupp's ps_suppkey — the test schema has no partsupp table).

    NOT-filters and the IN-list run on the broadcast (part) side
    before the join; count(DISTINCT) expands to the standard two-round
    aggregate (dedup shuffle then count) — both rounds partial+final.
    """
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 5, 9, 14, 23, 36, 45, 49))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q_tpch_q19",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
           count(*) AS n
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#12' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 discounted revenue: disjunctive mixed-side predicates.

    The OR spans both join sides, so it can't be pushed into either
    scan whole — but its per-side residuals CAN: the part side
    pre-filters to the union of brands/sizes and the lineitem side to
    the union of quantity ranges (both engines' optimizers derive
    these; written explicitly here so the 100 TB scan never reads
    non-candidate rows), with the exact disjunction evaluated after
    the broadcast join.
    """
    cases = [
        ("Brand#3", (1, 15), (1, 20)),
        ("Brand#12", (10, 30), (10, 30)),
        ("Brand#24", (20, 50), (20, 40)),
    ]
    part_pre = None
    li_pre = None
    full = None
    for brand, (s_lo, s_hi), (q_lo, q_hi) in cases:
        p = (F.col("p_brand") == brand) & F.col("p_size").between(s_lo, s_hi)
        q = F.col("l_quantity").between(q_lo, q_hi)
        part_pre = p if part_pre is None else (part_pre | p)
        li_pre = q if li_pre is None else (li_pre | q)
        full = (p & q) if full is None else (full | (p & q))
    part = load(spark, sf_dir, "part").filter(part_pre)
    li = load(spark, sf_dir, "lineitem").filter(li_pre)
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,6)"
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(full)
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "q_tpch_q18",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: agg→HAVING→semi-join→re-agg.

    The HAVING subquery reduces lineitem to a tiny keeper-key set
    (~1% of orders) that is broadcast left-semi joined back — the
    facts are filtered before the customer join ever sees them. At
    100 TB the keeper set stays kilobytes per million orders.
    """
    li = load(spark, sf_dir, "lineitem")
    keepers = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("tq"))
        .filter(F.col("tq") > 250)
        .select("l_orderkey")
    )
    orders = load(spark, sf_dir, "orders").join(
        F.broadcast(keepers),
        F.col("o_orderkey") == keepers.l_orderkey,
        "left_semi",
    )
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
        )
        .agg(_dsum("l_quantity").alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@query(
    "q_tpch_q7",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(vol) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))
               AS vol
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
          OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1999-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: bilateral trade per year.

    The two nation lookups are the SAME tiny table under two aliases —
    both broadcast; the cross-side nation-pair disjunction is applied
    after the second broadcast, and the year extraction
    (`year(l_shipdate)`) feeds the group key without a shuffle of its
    own.
    """
    n1, n2 = "NATION_3", "NATION_7"
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.filter(F.col("n_name").isin(n1, n2))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.filter(F.col("n_name").isin(n1, n2))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,6)"
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(vol).cast("double").alias("revenue"))
    )


@query(
    "q_tpch_q8",
    oracle="""
    SELECT o_year,
           CAST(sum(CASE WHEN nation = 'NATION_5' THEN vol
                         ELSE CAST(0 AS DECIMAL(22,6)) END) AS DOUBLE)
           / CAST(sum(vol) AS DOUBLE) AS mkt_share
    FROM (
      SELECT year(o_orderdate) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(22,6))
               AS vol,
             n2.n_name AS nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'EUROPE'
        AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
    )
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 national market share: one supplier nation's slice of a
    region's import volume, per year.

    The share is two sums in ONE aggregate (conditional + total — the
    q_tpch_q14 pattern over a 7-table join); every dimension hop is a
    broadcast, so the only fact shuffle is lineitem⋈orders.
    """
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cust_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    cust = load(spark, sf_dir, "customer").join(
        F.broadcast(cust_nations),
        F.col("c_nationkey") == F.col("cn_key"),
        "left_semi",
    ).select("c_custkey")
    supp = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,6)"
    )
    zero = F.lit(0).cast("decimal(22,6)")
    joined = (
        li.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("nation") == "NATION_5", vol).otherwise(zero)
                ).cast("double")
                / F.sum(vol).cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey
       AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 customer order distribution: count-of-counts with
    zeros preserved.

    The LEFT join keeps order-less customers (count(o_orderkey)=0 —
    count of a column skips NULLs, exactly the SQL semantics both
    engines share); the second aggregate is distribution-sized, not
    customer-sized.
    """
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@query(
    "q_tpch_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(22,6))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: groupwise-max against a derived table.

    The revenue aggregate is computed ONCE and persisted; the max
    arrives as a literal (bound-then-literal scalar, q_subquery_scalar
    pattern) so the filter is a cheap scan of the cached aggregate —
    not a re-aggregation, and not a window over all suppliers.
    Equality on double is safe: both sides derive from the same exact
    decimal sum.
    """
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,6)"
    )
    revenue = persist(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.sum(vol).cast("double").alias("total_revenue")
        )
    )
    best_row = revenue.agg(F.max("total_revenue")).first()
    supp = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    if best_row[0] is None:  # empty quarter: oracle returns 0 rows
        return (
            revenue.filter(F.lit(False))
            .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
            .select("s_suppkey", "s_name", "total_revenue")
        )
    best = float(best_row[0])
    return (
        revenue.filter(F.col("total_revenue") == F.lit(best))
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q_tpch_q17",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN (
      SELECT l_partkey AS avg_pk,
             0.2 * (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    / count(l_quantity)) AS qty_cut
      FROM lineitem GROUP BY l_partkey
    ) a ON a.avg_pk = l_partkey
    WHERE p_brand = 'Brand#5' AND l_quantity < qty_cut
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 small-quantity-order revenue: a correlated per-group
    scalar subquery (avg quantity per part) decorrelated into a
    pre-aggregated broadcast join.

    The per-part averages are part-cardinality-sized → broadcastable;
    the fact scans once. This is the standard decorrelation Catalyst
    itself applies to correlated scalar subqueries — written
    explicitly so the shape is visible and auditable.
    """
    li = load(spark, sf_dir, "lineitem")
    cuts = li.groupBy(F.col("l_partkey").alias("avg_pk")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast(
                    "double"
                )
                / F.count("l_quantity")
            )
        ).alias("qty_cut")
    )
    part = load(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#5"
    ).select("p_partkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(cuts), F.col("l_partkey") == F.col("avg_pk"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(
            (_dsum("l_extendedprice") / 7.0).alias("avg_yearly")
        )
    )


@query(
    "q_tpch_q10",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(22,6))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: who returned the most revenue.

    Quarter-bounded orders and the returnflag filter are both pushed to
    their scans before the fact⋈fact shuffle; customer and nation ride
    broadcasts; top-20 is a heap, not a sort.
    """
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,6)"
    )
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    cust_n = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    return (
        li.join(orders, F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust_n), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q_tpch_q14",
    oracle="""
    SELECT CAST(100.0 * sum(CASE WHEN p_type = 'PROMO'
                   THEN CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(22,6))
                   ELSE CAST(0 AS DECIMAL(22,6)) END) AS DOUBLE)
           / CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(22,6))) AS DOUBLE)
             AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect: conditional share of revenue.

    Month-bounded scan, part broadcast into the facts, both the
    conditional and total revenue folded into ONE aggregate — the
    two-sums-one-pass shape that replaces self-joins.
    """
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(22,6)"
    )
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(
        F.lit(0).cast("decimal(22,6)")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(revenue).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q_search_bm25",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN ('hash', 'join', 'vector') GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM tok
      WHERE term IN ('hash', 'join', 'vector') GROUP BY term
    ), lens AS (
      SELECT doc_id,
             len(string_split_regex(lower(text), '[^a-z]+')) AS dl
      FROM documents
    ), stats AS (
      SELECT count(*) AS n, (SELECT avg(dl) FROM lens) AS avgdl
      FROM documents
    )
    SELECT tf.doc_id,
           round(sum(
             ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl / stats.avgdl))
           ), 6) AS score
    FROM tf
    JOIN df USING (term)
    JOIN lens ON lens.doc_id = tf.doc_id, stats
    GROUP BY tf.doc_id
    ORDER BY score DESC, tf.doc_id
    LIMIT 20
    """,
)
def q_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search, BM25 scoring (k1=1.2, b=0.75) — TF-IDF's
    production successor: term-frequency saturation plus document-
    length normalization.

    Same scale posture as q_search_tfidf: terms filter BEFORE any
    aggregation, df broadcast (|query terms| rows), top-20 heap. The
    length normalizer is ``size(split(...))`` — a per-row expression,
    no second explode — and N/avgdl ride a broadcast 1-row stats
    frame (VERDICT_r9 #3: formerly a driver ``.first()`` — one extra
    job launch per call and the lone deviation from the no-driver-
    round-trip posture; now the temperature_rates in-plan pattern).
    Scoring shared with q_search_rrf via :func:`bm25_scores`."""
    docs = load(spark, sf_dir, "documents")
    return (
        bm25_scores(docs)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


def bm25_scores(
    docs: DataFrame,
    stats: DataFrame | None = None,
    dfreq: DataFrame | None = None,
    terms: list[str] | None = None,
    tokens_col: str | None = None,
    persist_tf: bool = False,
) -> DataFrame:
    """(doc_id, score): in-plan BM25 (k1=1.2, b=0.75) of every doc
    matching the engine's query terms — the scoring shared verbatim
    by q_search_bm25 and q_search_rrf's lexical ranking (they can
    never drift). ZERO driver round-trips: the corpus stats
    ``(n_docs, avgdl)`` are a 1-row aggregate broadcast back onto
    the scored rows (the ``temperature_rates`` pattern,
    VERDICT_r9 #3) — a BroadcastNestedLoopJoin over one row, not a
    separate job + literal. Same IEEE arithmetic as the old literal
    form: n_docs is the count cast to double, avgdl the plain
    ``avg`` double, and the idf/saturation chains keep their exact
    left-assoc shape — bit-identical scores, oracle unchanged.

    ``stats`` (1-row ``(n_docs double, avgdl double)``) and ``dfreq``
    (``(term, df)``, already restricted to the query terms) override
    the in-plan corpus aggregates — the incremental serve path
    (``text.TermStatsStore.bm25``, r10) feeds the merged store cells
    through the SAME scoring expressions, so batch and serve scores
    agree bit-for-bit by construction.

    ``tokens_col`` (r12, VERDICT_r11 #2) names a pre-computed
    ``split(lower(text), '[^a-z]+')`` array column on ``docs`` —
    EXACTLY that expression, empties included (``dl`` counts them,
    matching the oracle's ``len(string_split_regex(...))``) — so a
    caller that tokenizes for several consumers (q_search_rrf's
    lexical + semantic rankings) can persist ONE projection and
    share it; the scoring arithmetic is byte-identical either way.

    ``persist_tf`` (r15, guide §5) caches the ``tf`` table so the
    dfreq-from-tf derivation (r14) and the scoring join read ONE
    computed copy instead of re-running the explode+filter+groupBy
    subtree twice. Only sensible inside a query that is already
    paying for several corpus passes (q_search_rrf: interleaved
    same-JVM A/B med 1.93 -> 1.66 s with it, two independent runs);
    measured SLOWER standalone (q_search_bm25 0.36 -> 0.68 s med —
    the cache-fill barrier serializes two otherwise-concurrent
    subtrees and costs more than the saved explode at bench SF), so
    it defaults off. No-op when ``dfreq`` is supplied (store path)."""
    toks = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.split(F.lower(F.col("text")), "[^a-z]+")
    )
    lens = docs.select("doc_id", F.size(toks).alias("dl"))
    if stats is None:
        stats = lens.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        )
    tokens = docs.select(
        "doc_id", F.explode(toks).alias("term")
    ).filter(F.col("term").isin(terms if terms is not None else _SEARCH_TERMS))
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    if persist_tf and dfreq is None:
        tf = persist(tf)
    if dfreq is None:
        # df = the number of (doc, term) groups per term, which is
        # exactly tf's group count (r14): deriving it from tf drops
        # the second explode + distinct pass over the token stream —
        # same integer df, interleaved-A/B'd at sf0.1 (0.87 -> 0.79 s
        # median for the full scoring pipeline)
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    sat = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(1.2)
        * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(idf * sat), 6).alias("score"))
    )


@query(
    "q_word_pmi",
    oracle="""
    WITH w AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
        FROM documents
      ) WHERE length(term) >= 2
    ), dfw AS (
      SELECT term, count(*) AS df FROM w GROUP BY term
      HAVING count(*) >= 2
         AND count(*) <= 0.85 * (SELECT count(*) FROM documents)
    ), kept AS (
      SELECT w.doc_id, w.term, dfw.df FROM w JOIN dfw USING (term)
    ), co AS (
      SELECT a.term AS wa, b.term AS wb,
             max(a.df) AS dfa, max(b.df) AS dfb, count(*) AS cooc
      FROM kept a JOIN kept b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY a.term, b.term
    ), n AS (SELECT count(*) AS n FROM documents)
    SELECT wa, wb, cooc,
           round(ln(cooc::DOUBLE * n.n / (dfa * dfb)), 6) AS pmi
    FROM co, n
    WHERE cooc >= 2
    ORDER BY pmi DESC, wa, wb
    LIMIT 50
    """,
)
def q_word_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction: pointwise mutual information over
    within-document word co-occurrence — the classic corpus-analysis
    pass for multi-word expressions.

    Scale posture: document-frequency pruning BEFORE the within-doc
    self-join caps the per-doc pair blow-up the same way stop-shingle
    pruning caps Jaccard (Σk² over kept words only); the join key is
    doc_id so pairs never cross documents; top-50 is a heap, not a
    global sort.

    The df window is scale-relative (2 ≤ df ≤ 0.85·N): an absolute
    window (r3 used 5..200) goes vacuous as the corpus grows — every
    term's df scales with N, so a fixed upper bound eventually rejects
    the whole vocabulary (VERDICT_r3: 0 rows at sf0.01 AND sf0.1).
    Tying the stop-word bound to corpus size keeps the check exercising
    real PMI arithmetic at every sf.
    """
    docs = load(spark, sf_dir, "documents")
    n_docs = float(docs.count())
    w = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("term"),
        )
        .filter(F.length("term") >= 2)
        .distinct()
    )
    dfw = (
        w.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(
            (F.col("df") >= 2) & (F.col("df") <= F.lit(0.85) * F.lit(n_docs))
        )
    )
    kept = w.join(F.broadcast(dfw), "term")
    a = kept.select("doc_id", F.col("term").alias("wa"), F.col("df").alias("dfa"))
    b = kept.select("doc_id", F.col("term").alias("wb"), F.col("df").alias("dfb"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("wa") < F.col("wb"))
        .groupBy("wa", "wb")
        .agg(
            F.max("dfa").alias("dfa"),
            F.max("dfb").alias("dfb"),
            F.count(F.lit(1)).alias("cooc"),
        )
        .filter(F.col("cooc") >= 2)
    )
    pmi = F.log(
        F.col("cooc").cast("double") * F.lit(n_docs)
        / (F.col("dfa") * F.col("dfb"))
    )
    return (
        co.select("wa", "wb", "cooc", F.round(pmi, 6).alias("pmi"))
        .orderBy(F.col("pmi").desc(), "wa", "wb")
        .limit(50)
    )


@query(
    "q_udaf_gmean",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round(exp(avg(ln(CAST(l_extendedprice AS DOUBLE)))), 6)
             AS gmean_price
    FROM lineitem
    WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    """,
)
def q_udaf_gmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized UDAF (SURVEY §2.10's grouped-agg pandas_udf flavor):
    geometric-mean price per return flag, computed by an Arrow-batched
    numpy reduction on the Python side. The declarative equivalent
    (exp of avg of ln) is what the oracle runs — deliberately a shape
    Spark's built-ins could also express, so the UDAF path itself is
    what the value-hash verifies. Per-group rounding to 6 decimals
    absorbs the engines' summation-order difference (~1e-9 absolute
    on these magnitudes). Both sides restrict to the positive domain
    (gmean is undefined at <= 0; DuckDB's ln() RAISES there while
    pandas warns into -inf/nan — the nasty-table fuzz caught the
    divergence), so `n` counts positive-priced lines.

    Scale: grouped-agg pandas_udf aggregates Arrow batches per group
    AFTER a hash partial has no chance to help (Python aggregation is
    final-only) — which is why built-ins stay the default and this
    query exists to pin the escape hatch's semantics, not to race it."""
    from ..functions.udtf_ops import gmean_udaf

    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") > 0
    )
    # a grouped-agg pandas UDF cannot share an agg() with JVM
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — two aggregates over
    # the same 3-group key, joined broadcast-cheap
    g = li.groupBy("l_returnflag").agg(
        F.round(gmean_udaf(F.col("l_extendedprice")), 6).alias(
            "gmean_price"
        )
    )
    c = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    return c.join(g, "l_returnflag").select(
        "l_returnflag", "n", "gmean_price"
    )
