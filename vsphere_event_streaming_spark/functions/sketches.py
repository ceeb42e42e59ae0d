"""Count-min sketch: frequency estimates in fixed memory.

Complements the built-in sketches the engine already exposes
(HyperLogLog++ count-distinct, approximate quantiles — q_approx_aggs):
CMS answers *per-key frequency* ("how often does this token appear in
100 TB?") with state d×w counters, independent of both row count and
key cardinality. The exact alternative (q_top_words' two-phase top-k)
shuffles the full vocabulary; CMS never shuffles more than d×w cells.

Distributed form: each row contributes one increment to d cells
(posexplode of its d row-hashes) → a (row, bucket) hash aggregate with
map-side partial combine reduces everything to ≤ d×w rows → the tiny
sketch collects to the driver. Estimation: min over the d cells
(classic CMS upper-bound estimate: overestimates only, by ≤ εN with
probability ≥ 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉).

Hashing: the same md5/conv codegen built-ins every deterministic
operator here uses (never Python row-at-a-time); row r of the sketch
uses md5(key || '#' || r).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..store import BatchStore


def _bucket(key: Column, row: int, width: int) -> Column:
    salted = F.concat_ws("#", key, F.lit(str(row)))
    return (
        F.conv(F.substring(F.md5(salted), 1, 15), 16, 10)
        .cast("long")
        % width
    )


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> list[list[int]]:
    """Aggregate a column into a d×w count-min sketch (driver-side
    list of lists — the sketch IS small by construction).

    Key encoding contract: the column is hashed through Spark's
    cast-to-string; query keys passed to ``cms_estimate`` must be the
    SAME string rendering. Use a string column (or pre-cast with the
    formatting you will query with) for non-trivial types — Spark's
    rendering of doubles/booleans differs from Python's ``str()``.
    Null keys are excluded: they can never be queried, and counting
    them would both inflate colliding cells and silently widen the
    εN error bound.
    """
    counts = cms_cells(df, key_col, depth, width).collect()
    sketch = [[0] * width for _ in range(depth)]
    for r in counts:
        sketch[r["row"]][r["bucket"]] = r["c"]
    return sketch


def cms_cells(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """The CMS as its ≤d×w ADDITIVE BIGINT ``(row, bucket, c)`` cells
    — ONE map-side-combined hash aggregate, additive across
    row-disjoint batches (the defining CMS merge property). Shared by
    :func:`cms_build` (driver materialization), the declared query's
    oracle replay, and :class:`CmsStore`, so the three can never
    drift."""
    key = F.col(key_col).cast("string")
    exploded = df.filter(key.isNotNull()).select(
        F.posexplode(
            F.array(*[_bucket(key, r, width) for r in range(depth)])
        ).alias("row", "bucket")
    )
    return exploded.groupBy("row", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )


def cms_estimate(sketch: list[list[int]], key: str) -> int:
    """Point frequency estimate: min over the d hashed cells.

    Width is derived from the sketch itself — passing a mismatched
    width would silently hash into the wrong cells (including
    underestimates), so it is not a parameter.
    """
    import hashlib

    width = len(sketch[0])
    est = None
    for r in range(len(sketch)):
        salted = f"{key}#{r}".encode()
        h = int(hashlib.md5(salted).hexdigest()[:15], 16) % width
        c = sketch[r][h]
        est = c if est is None else min(est, c)
    return int(est or 0)


# ----------------------------------------------------------------------
# Binned mergeable-cell quantiles (L39): cells, readout, and the
# incremental store — ONE implementation shared by the declared query
# (q_percentile_binned), the store, and the streaming ingest, so the
# three can never drift (the L34-b auc_cells discipline).
# ----------------------------------------------------------------------
#: Fixed quantile grid: QB_BUCKETS cells of width QB_WIDTH cover
#: [0, QB_BUCKETS*QB_WIDTH); out-of-range values clamp into the edge
#: cells. 0.5 is a power of two, so value/width and bucket*width are
#: EXACT doubles in both engines.
QB_WIDTH = 0.5
QB_BUCKETS = 1024
#: The quantiles reported (matches q_percentile for the bound test).
QB_QS = (0.5, 0.9, 0.99)


def quantile_bucket(
    value: Column, width: float = QB_WIDTH, n_buckets: int = QB_BUCKETS
) -> Column:
    """Grid cell of a value: NaN pins to cell 0, out-of-range clamps
    to the edge cells — identical branches in the DuckDB oracle."""
    top = F.lit(n_buckets * width - width)
    return (
        F.when(F.isnan(value), F.lit(0).cast("long"))
        .otherwise(
            F.floor(
                F.least(F.greatest(value, F.lit(0.0)), top) / F.lit(width)
            ).cast("long")
        )
    )


def quantile_cells(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    width: float = QB_WIDTH,
    n_buckets: int = QB_BUCKETS,
) -> DataFrame:
    """Collapse a frame to the ≤``n_buckets`` ADDITIVE BIGINT
    ``(group, qb, cnt)`` cells per group — ONE map-side-combined hash
    aggregate; ``cells(A ∪ B) = cells(A) + cells(B)`` cell-wise."""
    return df.groupBy(
        group_col,
        quantile_bucket(F.col(value_col), width, n_buckets).alias("qb"),
    ).agg(F.count(F.lit(1)).alias("cnt"))


def quantiles_from_cells(
    cells: DataFrame,
    qs: tuple[float, ...] = QB_QS,
    group_col: str = "event_type",
    width: float = QB_WIDTH,
) -> DataFrame:
    """Quantile readout over a cell table: each estimate is the lower
    edge of the first cell whose cumulative count reaches ceil(q·n).
    The cumulative window is PARTITIONED by group over the CELL table
    (≤QB_BUCKETS rows per group) — never a raw-row sort."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(group_col)
        .orderBy("qb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(group_col)
    cum = cells.select(
        group_col,
        "qb",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    ests = [
        F.round(
            F.min(
                F.when(
                    F.col("cum")
                    >= F.ceil(F.lit(q) * F.col("n").cast("double")),
                    F.col("qb"),
                )
            ).cast("double")
            * F.lit(width),
            6,
        ).alias(f"p{int(round(q * 100))}_bin")
        for q in qs
    ]
    return cum.groupBy(group_col).agg(F.max("n").alias("n"), *ests)


class QuantileCellStore(BatchStore):
    """Persistent incremental binned-quantile store — L39's
    incremental form, the quantile twin of the AUC tier's
    ``classifier.AucCellStore``: per-batch state is ≤ QB_BUCKETS
    integers per group regardless of batch size, the merged store's
    cells equal the full-corpus :func:`quantile_cells` by additivity,
    and the running quantiles read off the merged table at any time.
    Storage contract: ``store.py``."""

    def __init__(
        self,
        spark,
        path: str,
        value_col: str = "value",
        group_col: str = "event_type",
        width: float = QB_WIDTH,
        n_buckets: int = QB_BUCKETS,
    ) -> None:
        super().__init__(spark, path)
        self.value_col = value_col
        self.group_col = group_col
        self.width = width
        self.n_buckets = n_buckets

    def add_batch(self, df: DataFrame, batch_id: str) -> None:
        """Collapse the batch to cells and persist them as an
        idempotent partition directory."""
        self._write(
            quantile_cells(
                df, self.value_col, self.group_col, self.width,
                self.n_buckets,
            ),
            batch_id,
        )

    def cells(self) -> DataFrame:
        """The merged cells over every ingested batch — exactly the
        full-corpus :func:`quantile_cells` by additivity."""
        return (
            self._merged()
            .groupBy(self.group_col, "qb")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def quantiles(self, qs: tuple[float, ...] = QB_QS) -> DataFrame:
        """The running binned quantiles over everything ingested —
        bit-identical to the batch q_percentile_binned values by cell
        additivity."""
        return quantiles_from_cells(
            self.cells(), qs, self.group_col, self.width
        )


def percentile_threshold_cell(
    cells: DataFrame, pct: float, qb_col: str = "qb", cnt_col: str = "cnt"
) -> DataFrame:
    """1-row ``(t)``: the first grid cell whose cumulative count
    reaches ``ceil(pct·n)`` — the in-plan percentile threshold behind
    the quality-percentile gate (L43): broadcast it back onto the
    scored rows and keep ``qb > t``. The cumulative + min-when run
    over the ≤n_buckets-row CELL table only (the W1 tiny-prefix
    shape); the corpus itself never sees a window. Shared by
    q_quality_gate and the corpus_prep selection stage so the gate
    semantics can never drift."""
    from pyspark.sql import Window

    w_cum = (
        Window.orderBy(qb_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy()
    return (
        cells.select(
            qb_col,
            F.sum(cnt_col).over(w_cum).alias("cum"),
            F.sum(cnt_col).over(w_all).alias("n"),
        )
        .agg(
            F.min(
                F.when(
                    F.col("cum")
                    >= F.ceil(F.lit(pct) * F.col("n").cast("double")),
                    F.col(qb_col),
                )
            ).alias("t")
        )
    )


# ----------------------------------------------------------------------
# Event-rate cells (T6d): the mergeable monitoring aggregate
# ----------------------------------------------------------------------
#: Rate-cell bucket width (matches the T6d tumbling window).
RATE_WINDOW = "6 hours"


def rate_cells(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
    window: str = RATE_WINDOW,
) -> DataFrame:
    """Collapse an event frame to the ADDITIVE BIGINT
    ``(event_type, window_start_us, cnt)`` rate cells the T6d anomaly
    monitor consumes — ONE map-side-combined hash aggregate. Counts
    per (type, tumbling bucket) are additive across row-disjoint
    batches (``cells(A∪B) = cells(A) + cells(B)`` cell-wise), the
    same merge property as the quantile/AUC cell tiers. Shared by the
    declared query (q_events_anomaly), :class:`RateCellStore`, and
    the streaming ingest, so the three can never drift."""
    return (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(type_col, F.window(ts_col, window).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            type_col,
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "cnt",
        )
    )


def anomalies_from_cells(
    cells: DataFrame, type_col: str = "event_type"
) -> DataFrame:
    """The T6d anomaly decision over a (merged) rate-cell table:
    per-type exact integer moments (nb, Σcnt, Σcnt²) aggregated over
    the CELLS (never the events) and broadcast back; a bucket is
    anomalous iff its squared deviation from the type mean exceeds
    4× the variance — the |z| > 2 gate in the z² > 4 form, every
    double built from the same exact integers with the same
    expression shape in both engines."""
    stats = cells.groupBy(type_col).agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("cnt").alias("s1"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("s2"),
    )
    dev = F.col("cnt") * F.col("nb") - F.col("s1")
    lhs = dev.cast("double") * dev.cast("double")
    rhs = F.lit(4.0) * (
        F.col("nb").cast("double") * F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    )
    return cells.join(F.broadcast(stats), type_col).select(
        type_col,
        "window_start_us",
        F.col("cnt").alias("n"),
        F.round(
            F.col("s1").cast("double") / F.col("nb").cast("double"), 6
        ).alias("mean_n"),
        (lhs > rhs).alias("is_anomaly"),
    )


class RateCellStore(BatchStore):
    """Persistent incremental event-rate store — T6d's incremental
    form: per-batch state is one BIGINT per (type, bucket) touched
    by the batch regardless of batch size, the merged store's cells
    equal the full-corpus :func:`rate_cells` by additivity, and the
    running anomaly table reads off the merged cells at any time
    (``anomalies()`` ≡ the batch q_events_anomaly over everything
    ingested). Storage contract: ``store.py``."""

    def __init__(
        self,
        spark,
        path: str,
        type_col: str = "event_type",
        ts_col: str = "ts",
        window: str = RATE_WINDOW,
    ) -> None:
        super().__init__(spark, path)
        self.type_col = type_col
        self.ts_col = ts_col
        self.window = window

    def add_batch(self, df: DataFrame, batch_id: str) -> None:
        """Collapse the batch to rate cells and persist them as an
        idempotent partition directory."""
        self._write(
            rate_cells(df, self.type_col, self.ts_col, self.window),
            batch_id,
        )

    def cells(self) -> DataFrame:
        """The merged cells over every ingested batch — exactly the
        full-corpus :func:`rate_cells` by additivity."""
        return (
            self._merged()
            .groupBy(self.type_col, "window_start_us")
            .agg(F.sum("cnt").alias("cnt"))
        )

    def anomalies(self) -> DataFrame:
        """The running anomaly table over everything ingested —
        bit-identical to the batch q_events_anomaly values by cell
        additivity."""
        return anomalies_from_cells(self.cells(), self.type_col)


class CmsStore(BatchStore):
    """Persistent incremental Count-Min sketch — L27's incremental
    form: per-batch state is ≤ d×w integers regardless of batch
    size, the merged store's cells equal
    the full-corpus :func:`cms_cells` by additivity (the textbook CMS
    merge: cell-wise sum), and the running sketch / point estimates
    read off the merged table at any time, bit-identical to a
    from-scratch :func:`cms_build` over everything ingested. Storage
    contract: ``store.py``."""

    def __init__(
        self,
        spark,
        path: str,
        key_col: str,
        depth: int = 4,
        width: int = 1024,
    ) -> None:
        super().__init__(spark, path)
        self.key_col = key_col
        self.depth = depth
        self.width = width

    def add_batch(self, df: DataFrame, batch_id: str) -> None:
        """Collapse the batch to CMS cells and persist them as an
        idempotent partition directory."""
        self._write(
            cms_cells(df, self.key_col, self.depth, self.width), batch_id
        )

    def cells(self) -> DataFrame:
        """The merged cells over every ingested batch — exactly the
        full-corpus :func:`cms_cells` by additivity."""
        return (
            self._merged()
            .groupBy("row", "bucket")
            .agg(F.sum("c").alias("c"))
        )

    def sketch(self) -> list[list[int]]:
        """The running d×w sketch — bit-identical to
        :func:`cms_build` over the union of every ingested batch."""
        sketch = [[0] * self.width for _ in range(self.depth)]
        for r in self.cells().collect():
            sketch[r["row"]][r["bucket"]] = r["c"]
        return sketch

    def estimate(self, key: str) -> int:
        """Point frequency estimate over everything ingested."""
        return cms_estimate(self.sketch(), key)


def activity_days(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Distinct ``(user_id, d)`` activity rows (d = epoch day as
    BIGINT) — the primitive the cohort-retention tier consumes. Set
    semantics: ``days(A ∪ B) = days(A) ∪ days(B)`` (distinct-union
    merge, idempotent under overlap), the third merge law in the
    store taxonomy beside additive cells and (min, sum) keepers.
    Shared by the declared query (q_events_retention), the
    :class:`ActivityStore`, and the streaming ingest."""
    return (
        events.filter(
            F.col(ts_col).isNotNull() & F.col(user_col).isNotNull()
        )
        .select(
            user_col,
            F.floor(
                F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000.0)
            )
            .cast("long")
            .alias("d"),
        )
        .distinct()
    )


def retention_from_days(
    days: DataFrame, user_col: str = "user_id"
) -> DataFrame:
    """The cohort-retention readout over a (merged) activity table:
    cohort = each user's min day, cells = (cohort_day_us, day_offset,
    n_users) — exactly q_events_retention's output shape."""
    rc = days.groupBy(user_col).agg(F.min("d").alias("cohort"))
    return (
        days.join(rc, user_col)
        .groupBy(
            (F.col("cohort") * F.lit(86_400_000_000)).alias(
                "cohort_day_us"
            ),
            (F.col("d") - F.col("cohort")).alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def stickiness_from_days(
    days: DataFrame, user_col: str = "user_id"
) -> DataFrame:
    """The DAU/WAU stickiness readout over a (merged) activity table —
    exactly q_events_stickiness's output shape: per observed day,
    distinct daily actives over distinct trailing-7-day actives, the
    moving-window distinct computed by CONTRIBUTION expansion (each
    already-distinct (user, day) row explodes to the 7 target days it
    serves). Shared by the declared query and the
    :class:`ActivityStore` readout so the two can never drift."""
    dau = days.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    contrib = days.select(
        user_col,
        F.explode(
            F.sequence(F.col("d"), F.col("d") + F.lit(6))
        ).alias("td"),
    )
    wau = contrib.groupBy(F.col("td").alias("d")).agg(
        F.countDistinct(user_col).alias("wau")
    )
    return dau.join(wau, "d").select(
        (F.col("d") * F.lit(86_400_000_000)).alias("day_us"),
        "dau",
        "wau",
        F.round(
            F.col("dau").cast("double") / F.col("wau").cast("double"), 6
        ).alias("stickiness"),
    )


class ActivityStore(BatchStore):
    """Persistent incremental user-activity store — the retention
    tier's incremental form and the first store with SET-UNION merge
    semantics: per-batch state is the batch's distinct
    ``(user, day)`` rows, the merged store is the
    DISTINCT over every ingested batch (idempotent under replay AND
    under overlapping batches — re-observing an active (user, day)
    changes nothing, which is what makes activity a set, not a
    counter), and the running retention table reads off the merged
    rows at any time, bit-identical to the batch q_events_retention
    over everything ingested. Storage contract: ``store.py``."""

    def __init__(
        self,
        spark,
        path: str,
        user_col: str = "user_id",
        ts_col: str = "ts",
    ) -> None:
        super().__init__(spark, path)
        self.user_col = user_col
        self.ts_col = ts_col

    def add_batch(self, df: DataFrame, batch_id: str) -> None:
        """Collapse the batch to distinct activity rows and persist
        them as an idempotent partition directory."""
        self._write(
            activity_days(df, self.user_col, self.ts_col), batch_id
        )

    def days(self) -> DataFrame:
        """The merged distinct activity rows over every ingested
        batch — exactly the full-corpus :func:`activity_days` by the
        set-union law."""
        return (
            self._merged()
            .select(self.user_col, "d")
            .distinct()
        )

    def retention(self) -> DataFrame:
        """The running cohort-retention table over everything
        ingested — bit-identical to the batch q_events_retention by
        the set-union law."""
        return retention_from_days(self.days(), self.user_col)

    def stickiness(self) -> DataFrame:
        """The running DAU/WAU stickiness table over everything
        ingested — bit-identical to the batch q_events_stickiness by
        the set-union law (r11)."""
        return stickiness_from_days(self.days(), self.user_col)


# ======================================================================
# Bloom filter: set membership in fixed memory (SURVEY §2.11 L27')
# ======================================================================

#: Bloom bit-array size. 2^14 bits = 2 KiB as a bitmap; as a DISTINCT
#: (pos) cell table it is ≤ m rows of one long — broadcastable at any
#: corpus size, which is the whole point: membership probes become a
#: broadcast join, never a shuffle.
BLOOM_M = 16384
#: Hash functions per key (classic k); positions are independent
#: md5-derived values salted by the function index.
BLOOM_H = 3


def bloom_positions(
    key: Column, m: int = BLOOM_M, h: int = BLOOM_H
) -> Column:
    """Array of the key's ``h`` bit positions — the ONE definition the
    build, the probe, the store, and the DuckDB oracle all replay
    (md5/conv codegen built-ins, byte-identical across engines:
    ``('0x'||substr(md5(CAST(i AS VARCHAR)||':'||key),1,15))::BIGINT
    % m``). Duplicates between the h slots are kept (a key whose
    hashes collide still probes h rows — both engines agree)."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"{i}:"), key.cast("string")
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % m
            )
            for i in range(1, h + 1)
        ]
    )


def bloom_bits(
    df: DataFrame, key_col: str, m: int = BLOOM_M, h: int = BLOOM_H
) -> DataFrame:
    """The filter as a DISTINCT ``(pos)`` cell table — the relational
    form of the bit array. Set bits are a SET: the cells merge across
    corpus splits (and store batches) by plain set union, idempotent
    under replay AND overlapping ingest — the second set-union store
    family after ActivityStore."""
    return (
        df.select(
            F.explode(
                bloom_positions(F.col(key_col), m, h)
            ).alias("pos")
        )
        .distinct()
    )


def bloom_membership(
    bits: DataFrame,
    probes: DataFrame,
    key_col: str,
    m: int = BLOOM_M,
    h: int = BLOOM_H,
) -> DataFrame:
    """``probes`` + ``bloom_hit``: a key is possibly-present iff ALL
    ``h`` of its positions are set. Probe shape: ``h`` chained
    broadcast hash joins (one per slot) against the ≤ m-row bits
    table, each marking its slot hit via the join's null-extension —
    whole-stage codegen end to end, no explode (h× row inflation), no
    per-key aggregate, no shuffle of the probe side at all (the first
    shipped form exploded to h·|probes| rows and hash-aggregated on
    the wide (probe, key) pair — 2.5× slower at sf0.1).
    One-sided error by construction: every truly-present key probes
    hit (no false negatives); false positives are the m/h trade."""
    poss = bloom_positions(F.col(key_col), m, h)
    out = probes.withColumn("__poss", poss)
    hit = F.lit(True)
    for i in range(h):
        slot = bits.select(F.col("pos").alias(f"__setpos{i}"))
        out = out.join(
            F.broadcast(slot),
            out["__poss"][i] == F.col(f"__setpos{i}"),
            "left",
        )
        hit = hit & F.col(f"__setpos{i}").isNotNull()
    return out.withColumn("bloom_hit", hit).drop(
        "__poss", *[f"__setpos{i}" for i in range(h)]
    )


class BloomStore(BatchStore):
    """Persistent incremental Bloom filter — the second store with
    SET-UNION merge semantics (after ActivityStore): per-batch state
    is the batch's distinct set-bit positions, the merged filter is
    the DISTINCT over every ingested batch — bit-OR is set union, so
    the store is idempotent under replay AND under overlapping
    batches (re-inserting a key sets the same bits). The
    growing-benchmark decontamination shape: each new eval suite
    ingests as a batch, and the merged ≤ m-row filter broadcasts to
    probe any corpus with zero shuffle. Storage contract:
    ``store.py``."""

    def __init__(
        self,
        spark,
        path: str,
        m: int = BLOOM_M,
        h: int = BLOOM_H,
    ) -> None:
        super().__init__(spark, path)
        self.m = m
        self.h = h

    def add_batch(
        self, df: DataFrame, batch_id: str, key_col: str = "key"
    ) -> None:
        """Collapse the batch to its distinct set-bit positions and
        persist them as an idempotent partition directory."""
        self._write(bloom_bits(df, key_col, self.m, self.h), batch_id)

    def bits(self) -> DataFrame:
        """The merged filter over every ingested batch — exactly the
        full-corpus :func:`bloom_bits` by set union."""
        return self._merged().select("pos").distinct()

    def membership(self, probes: DataFrame, key_col: str = "key"):
        """``probes`` + ``bloom_hit`` against the merged filter."""
        return bloom_membership(
            self.bits(), probes, key_col, self.m, self.h
        )


# ----------------------------------------------------------------------
# HyperLogLog distinct-count sketch (r13): cells, readout, store —
# ONE implementation shared by the declared query (q_sketch_hll), the
# oracle replay, and HllStore, so the three can never drift (the CMS
# discipline). Fixed-memory distinct counting is the third classic
# sketch a monitoring pipeline runs next to CMS (frequency) and Bloom
# (membership).
# ----------------------------------------------------------------------

#: Register-index bits / register count. m=256 gives the standard
#: 1.04/sqrt(m) ≈ 6.5% relative error at a 256-row cell table per
#: group — broadcastable at any corpus size, like the Bloom cells.
HLL_P = 8
HLL_M = 1 << HLL_P
#: The hashed value (md5 60-bit, the engine-portable hash) splits
#: into the low HLL_P bucket bits and a (60-P)-bit window whose
#: leading-zero count is the register rank — so the max rank is
#: 60 - P + 1 = 53, and 2^(HLL_RANK_MAX - rank) sums stay exact
#: BIGINTs (≤ m·2^53 < 2^63).
HLL_RANK_MAX = 60 - HLL_P + 1
#: alpha_m · m² for m=256 (Flajolet et al. 2007, the standard bias
#: constant) — ONE literal injected into both engines, so the float
#: arithmetic is bit-identical.
HLL_ALPHA_M2 = (0.7213 / (1.0 + 1.079 / HLL_M)) * HLL_M * HLL_M


def hll_cells(
    df: DataFrame, key_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """The HLL as its ≤ m MAX-mergeable ``(bucket, r)`` register
    cells per group — ONE map-side-combined hash aggregate. Register
    maxima merge by MAX across ANY batch split (the defining HLL
    property): overlapping or replayed ingest converges, making this
    the max-lattice sibling of the set-union families.

    NULL keys are excluded (they are not a countable identity, and
    both engines must agree)."""
    group_cols = list(group_cols or [])
    key = F.col(key_col).cast("string")
    h = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")
    # bit ops, NOT division: h is 60-bit, and a long/int division in
    # Spark goes through double — precision loss above 2^53 would
    # silently diverge from DuckDB's integer >>
    w = F.shiftright(h, HLL_P)
    rank = F.when(
        w > 0, F.lit(HLL_RANK_MAX) - F.length(F.conv(w, 10, 2))
    ).otherwise(F.lit(HLL_RANK_MAX))
    return (
        df.filter(key.isNotNull())
        .select(
            *group_cols,
            h.bitwiseAND(F.lit(HLL_M - 1)).cast("int").alias("bucket"),
            rank.cast("int").alias("r"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_estimates(
    cells: DataFrame, group_cols: list[str] | None = None
) -> DataFrame:
    """Per-group HLL cardinality estimate off merged register cells.

    Exact-determinism shape: the indicator sum Z is computed SCALED
    as Σ 2^(RANK_MAX − r) over present registers plus V·2^RANK_MAX
    for the absent ones — exact BIGINT addition, order-free — and
    only the final alpha·m²·2^RANK_MAX / Z division is float, so the
    estimate is bit-identical in any engine given the same cells.
    Small-range correction (E ≤ 2.5m with empty registers) uses the
    standard linear-counting m·ln(m/V)."""
    group_cols = list(group_cols or [])
    agg = cells.groupBy(*group_cols).agg(
        # the PySpark shiftleft wrapper takes a literal shift only;
        # the SQL form accepts a column amount
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), {HLL_RANK_MAX} - r)"
            )
        ).alias("z_present"),
        F.count(F.lit(1)).alias("present"),
    )
    v = F.lit(HLL_M) - F.col("present")
    z_scaled = F.col("z_present") + v.cast("long") * F.lit(
        1 << HLL_RANK_MAX
    ).cast("long")
    raw = (
        F.lit(HLL_ALPHA_M2)
        * F.lit(float(1 << HLL_RANK_MAX))
        / F.col("z_scaled").cast("double")
    )
    est = F.when(
        (F.col("raw") <= 2.5 * HLL_M) & (v > 0),
        F.round(
            F.lit(float(HLL_M))
            * F.log(F.lit(float(HLL_M)) / v.cast("double")),
            4,
        ),
    ).otherwise(F.round(F.col("raw"), 4))
    return (
        agg.withColumn("z_scaled", z_scaled)
        .withColumn("raw", raw)
        .select(*group_cols, est.alias("est_distinct"))
    )


class HllStore(BatchStore):
    """Persistent incremental HyperLogLog store (r13) — the
    max-lattice member of the lattice-merge group
    (ActivityStore/BloomStore: set-union;
    GroupStore: min-label): per-batch state is the batch's ≤ m
    register cells per group, the merged sketch is the per-register
    MAX over every ingested batch — so replayed AND overlapping
    ingest both converge (re-hashing a key can never lower a
    register). The monitoring shape: distinct users / distinct URLs
    per key over a growing log at fixed memory, read at any time
    without touching history. Per-batch state is ≤ m rows per group,
    never per-row. Storage contract: ``store.py``."""

    def __init__(
        self,
        spark,
        path: str,
        key_col: str,
        group_cols: list[str] | None = None,
    ) -> None:
        super().__init__(spark, path)
        self.key_col = key_col
        self.group_cols = list(group_cols or [])

    def add_batch(self, df: DataFrame, batch_id: str) -> None:
        """Collapse the batch to register cells and persist them as
        an idempotent partition directory."""
        self._write(
            hll_cells(df, self.key_col, self.group_cols), batch_id
        )

    def cells(self) -> DataFrame:
        """The merged register table over every ingested batch —
        exactly the full-corpus :func:`hll_cells` by MAX
        mergeability. Raises the store-family typed error on a store
        with no ingested batches."""
        return (
            self._merged()
            .groupBy(*self.group_cols, "bucket")
            .agg(F.max("r").alias("r"))
        )

    def estimates(self) -> DataFrame:
        """Per-group distinct-count estimates off the merged
        registers — bit-identical to the batch estimate over the
        union of everything ingested."""
        return hll_estimates(self.cells(), self.group_cols)
