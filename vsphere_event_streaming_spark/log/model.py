"""The offset-addressed log as relational operators.

The reference's memlog is an in-memory append-only record log addressed
by a monotonic offset (/root/reference/cmd/server/server.go:37,
README.md:31-33). Here the log is *any DataFrame with a long offset
column*; every log operation is a declarative plan Catalyst can
optimize (predicate pushdown into the parquet scan, limit pushdown via
TakeOrderedAndProject, partial+final min/max aggregation).

Scale notes (100 TB posture):

- ``assign_offsets`` is the only operation that needs a total order.
  A single global window (``Window.orderBy`` with no partition) would
  serialize the whole dataset through one task, so the default
  implementation is a two-phase range-partitioned rank: range-shuffle
  on the order key, per-partition ``row_number``, then a broadcast
  join against per-partition prefix-sum bases (a tiny #partitions-row
  side). Wall-clock scales with partitions; no task ever sees more
  than its slice.
- Everything else is a filter/aggregate/top-k — embarrassingly
  parallel, with min/max and limits pushed toward the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..errors import OutOfRangeError

#: Reference defaults (cmd/server/server.go:29,47).
PAGE_SIZE = 50
MAX_SEGMENT_SIZE = 1000


def get_start(earliest: int, latest: int, page_size: int = PAGE_SIZE) -> int:
    """First offset of the last page.

    Pure pagination math, behavior-matched to the reference's
    ``getStart`` (cmd/server/server.go:329-336) and its goldens
    (cmd/server/server_test.go:418-501): (0,10,50)→0, (0,100,50)→51,
    (99,100,50)→99, (151,304,50)→255, (151,304,10)→295, (-1,-1)→-1.
    """
    if earliest == -1 and latest == -1:
        return -1
    start = latest - page_size + 1
    if start < earliest:
        start = earliest
    return start


def watch_start(
    earliest: int | None, latest: int | None, start: int | None
) -> int:
    """First offset a watch delivers — the one owner of the start rule.

    Pure, behavior-matched to the reference's stream start
    (server.go:149-166, :200-203): ``None`` or ``-1`` (memlog's
    internal 'absent' sentinel) tails from now, latest+1, or 0 on an
    empty log (``earliest``/``latest`` None); a start below the
    retained range raises ``OutOfRangeError`` (the purged-start 400);
    any other start, a future one included, is returned as is.
    """
    if start is None or start == -1:
        return 0 if latest is None else latest + 1
    if earliest is not None and start < earliest:
        raise OutOfRangeError(f"invalid offset: {start}")
    return start


def log_range(df: DataFrame, offset_col: str = "offset") -> DataFrame:
    """(earliest, latest) — reference ``log.Range`` (server.go:305-327).

    Spark computes this as a partial+final min/max aggregate; on
    parquet the scan reads only the offset column.
    """
    return df.agg(
        F.min(offset_col).alias("earliest"),
        F.max(offset_col).alias("latest"),
    )


def point_lookup(
    df: DataFrame, offset: int | None, offset_col: str = "offset"
) -> DataFrame:
    """Exact-match read — reference ``log.Read`` (server.go:269-302).

    The equality predicate is pushed into the source scan; with
    min/max row-group statistics a 100 TB log touches one row group.
    A ``None`` probe (empty log: no offset to look up) compares against
    a NULL literal and yields 0 rows, matching the SQL oracle.
    """
    probe = F.lit(None).cast("long") if offset is None else F.lit(int(offset))
    return df.filter(F.col(offset_col) == probe)


def replay_from(
    df: DataFrame, start: int | None, offset_col: str = "offset"
) -> DataFrame:
    """Ordered replay from a lower-bound offset (server.go:151-169).

    ``None`` start (empty log) yields 0 rows via a NULL lower bound —
    same empty-input semantics as the oracle.
    """
    lo = F.lit(None).cast("long") if start is None else F.lit(int(start))
    return df.filter(F.col(offset_col) >= lo).orderBy(offset_col)


def ordered_replay(df: DataFrame, offset_col: str = "offset") -> DataFrame:
    """Total-order delivery (server.go:226, stream loop :171-191)."""
    return df.orderBy(offset_col)


def last_page(
    df: DataFrame, page_size: int = PAGE_SIZE, offset_col: str = "offset"
) -> DataFrame:
    """Last ≤page_size records in ascending offset order.

    Reference page path (server.go:211-267): start =
    ``getStart(earliest, latest, pageSize)`` then scan up. Spark-first:
    ``orderBy(desc).limit(n)`` compiles to TakeOrderedAndProject — a
    per-partition top-k followed by a k-row merge on one task; no
    global sort, no full shuffle, scale-independent of log size.
    """
    return (
        df.orderBy(F.col(offset_col).desc())
        .limit(page_size)
        .orderBy(F.col(offset_col))
    )


def retention_filter(
    df: DataFrame,
    max_segment_size: int = MAX_SEGMENT_SIZE,
    offset_col: str = "offset",
) -> DataFrame:
    """Bounded retention: keep the newest 2×segment records.

    Reference: active+history segments of ``LOG_MAX_SEGMENT_SIZE``
    each; the oldest segment is purged when the active one fills
    (README.md:177-184; golden: segment 5, 20 writes ⇒ range {10,19},
    cmd/server/server_test.go:52-58). Expressed as a predicate against
    the broadcast 1-row max — no shuffle of the big side.
    """
    cap = 2 * max_segment_size
    latest = df.agg(F.max(offset_col).alias("__latest"))
    return (
        df.join(F.broadcast(latest))
        .filter(F.col(offset_col) > F.col("__latest") - F.lit(cap))
        .drop("__latest")
    )


def probe_offsets(
    df: DataFrame, probes: DataFrame, offset_col: str = "offset"
) -> DataFrame:
    """Classify probe offsets: valid | out_of_range | future.

    Reproduces the boundary mapping of ``log.Read`` →
    ``ErrOutOfRange``/``ErrFutureOffset`` → HTTP 400
    (server.go:285-288; tests server_test.go:105-134) as a relational
    query: probes × broadcast(range) → CASE classification.

    ``probes`` must have a single long column named ``probe``.
    """
    rng = log_range(df, offset_col)
    return (
        probes.join(F.broadcast(rng))
        .select(
            "probe",
            F.when(F.col("probe") < F.col("earliest"), F.lit("out_of_range"))
            .when(F.col("probe") > F.col("latest"), F.lit("future"))
            .otherwise(F.lit("valid"))
            .alias("status"),
        )
    )


def assign_offsets(
    df: DataFrame,
    order_by: list[str],
    offset_col: str = "offset",
    start: int | None = None,
    seed_col: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic monotonic offset assignment (W1).

    Reference: ``log.Write`` assigns the next offset; the *first*
    event's vSphere ``Key`` seeds the start offset so event IDs ≡ log
    offsets (cmd/server/main.go:113-125, README.md:31-33).

    NOT a raw ``monotonically_increasing_id`` (not dense, and
    meaningless on an unpinned partition layout) and NOT a global
    single-partition window. Two-phase scalable rank, ONE shuffle:

    1. range-shuffle on the order key (``repartitionByRange``) so the
       key order equals the partition order, then sort *within* each
       partition — no second exchange;
    2. local rank from ``monotonically_increasing_id`` over the pinned
       layout: the id is documented as partition id in the upper 31
       bits, per-task row counter in the lower 33, so
       ``pid = id >> 33`` and ``rank = (id & (2^33-1)) + 1`` are plain
       codegen arithmetic. (A ``row_number() OVER (PARTITION BY
       spark_partition_id())`` window computes the same thing but
       Catalyst cannot prove the data is already clustered by
       partition id, so it inserts a second full Exchange + Sort —
       measured 2× the query cost.)
    3. broadcast-join per-partition row counts turned into prefix-sum
       bases (a #partitions-sized side computed with a tiny window).

    The result is the exact global rank: deterministic for a unique
    order key regardless of sampling-derived partition bounds.
    Requires < 2^33 rows per partition (a per-partition spill limit
    far beyond any sane partition sizing).

    Consistency invariant: the counts branch and the rank branch hang
    off the *same* range Exchange, which Spark's exchange reuse
    (``spark.sql.exchange.reuse``, on by default; verified as
    ``ReusedExchange`` in the final adaptive plan) materializes once —
    both sides observe identical partition assignments even though
    range boundaries come from sampling.

    ``start`` sets the first offset explicitly; ``seed_col`` instead
    seeds it with ``min(seed_col)`` (the reference's first-Key rule).
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    num_partitions = max(1, min(num_partitions, 10000))

    # explicit NULLS LAST: Spark's ascending default is nulls-first,
    # SQL ORDER BY defaults to nulls-last — a NULL order key would
    # otherwise shift every assigned offset relative to the oracle
    order_cols = [F.col(c).asc_nulls_last() for c in order_by]
    ranged = df.repartitionByRange(num_partitions, *order_cols)
    mask = F.lit((1 << 33) - 1)
    local = (
        ranged.sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright("__mid", 33).cast("int"))
        .withColumn("__rank", (F.col("__mid").bitwiseAND(mask) + 1))
    )

    # counts hang off the shared range Exchange (ReusedExchange dedupes
    # the shuffle) and skip the sort entirely — a count per partition
    # does not care about row order.
    # The seed (min of seed_col) rides along as a per-partition min —
    # one aggregate branch and ONE broadcast join serve both the
    # prefix-sum bases and the start offset (no separate seed scan).
    aggs = [F.count(F.lit(1)).alias("__cnt")]
    if seed_col is not None:
        aggs.append(F.min(seed_col).alias("__pmin"))
    counts = (
        ranged.withColumn("__pid", F.spark_partition_id())
        .groupBy("__pid")
        .agg(*aggs)
    )
    # Prefix sum over the tiny per-partition count table (≤ num_partitions
    # rows) — the single-partition windows here are intentional and free.
    tiny = Window.orderBy("__pid")
    bases = counts.withColumn(
        "__base",
        F.coalesce(
            F.sum("__cnt").over(
                tiny.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )
    if seed_col is not None:
        first = F.col("__seed")
        bases = bases.withColumn(
            "__seed",
            F.min("__pmin").over(
                tiny.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        ).select("__pid", "__base", "__seed")
    else:
        first = F.lit(int(start) if start is not None else 0)
        bases = bases.select("__pid", "__base")

    out = local.join(F.broadcast(bases), "__pid")
    out = out.withColumn(
        offset_col,
        (F.col("__base") + F.col("__rank") - F.lit(1) + first).cast("long"),
    )
    return out.drop("__mid", "__pid", "__rank", "__base", "__pmin", "__seed")
