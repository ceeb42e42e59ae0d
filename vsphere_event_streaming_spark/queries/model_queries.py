"""Trained-model queries (SURVEY §2.11 L34/L34'/L35): the
data-selection models a training pipeline fits on its own corpus —
a logistic quality classifier (one-vs-rest, GPT-3/CCNet-style
filtering), its confusion-matrix evaluation, and a top-principal-
component projection (power iteration) over the embeddings table.

Every oracle below replays TRAINING ITSELF (the L32 trained-BPE
precedent): the chained-CTE prefixes from ``functions.classifier``
reproduce gradient descent / power iteration digit-for-digit in
DuckDB, so a corpus change that flips one weight's last micro-unit
digit flips the driver value hash. Determinism mechanics (quantized
integer gradient/Gram sums, clamps, the rational sigmoid, shared
left-fold dot order) are documented in ``functions/classifier.py``.

Scale: training is K single-aggregate corpus passes with O(K·d) /
O(d²) driver state; application is one codegen fold per row — no
shuffle, no Python (plan-audited). Every trained model is built once
per corpus fingerprint through ``state.trained`` — the memo policy
lives in ``state.py``'s module docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.classifier import (
    deflated_second_component,
    gram_micro,
    logreg_oracle,
    logreg_score,
    pca_oracle,
    pca_project,
    pca_topm_ordered,
    pca_topm_ordered_oracle,
    power_iteration,
    train_logreg,
)
from ..functions.kmeans import (
    kmeans_assign,
    kmeans_assign_detail,
    kmeans_oracle,
    train_kmeans,
)
from ..registry import query
from ..state import corpus_key, persist, trained
from ..tables import load

#: Fixed training hyperparameters — pinned so the oracle text and the
#: engine agree by construction; changing either changes both sides.
#: iters=12 / lr=3 / pos_weight=9 chosen by measured learning curve on
#: the driver corpus (class 0 is ~10% of rows: unweighted training
#: converges to the all-negative predictor; the 9× positive-class
#: gradient reweighting yields recall 0.62 at AUC 0.82 on sf0.01,
#: with 12 iterations bounding the training passes the bench pays).
LOGREG_ITERS = 12
LOGREG_LR = (3, 1)  # lr_num / lr_den
POS_WEIGHT = 9
PCA_ITERS = 6
POSITIVE_LABEL = 0
K_CLUSTERS = 8
KMEANS_ITERS = 4
#: Grid cells for the exact-AUC two-phase cumulative (q_classifier_auc):
#: bounds the tiny prefix-sum table and the window parallelism. Purely a
#: physical knob — the result is exact for ANY value ≥ 1.
AUC_BUCKETS = 128



def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    w = trained(
        "logreg",
        corpus_key(sf_dir),
        lambda: train_logreg(
            emb,
            positive_label=POSITIVE_LABEL,
            iters=LOGREG_ITERS,
            lr_num=LOGREG_LR[0],
            lr_den=LOGREG_LR[1],
            pos_weight=POS_WEIGHT,
        ),
    )
    return emb.select(
        F.col("vec_id"),
        F.col("label"),
        F.when(F.col("label") == POSITIVE_LABEL, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
        logreg_score(F.col("embedding"), w).alias("p"),
    )


# ======================================================================
# L34: trained logistic quality classifier (training oracle-replayed)
# ======================================================================
@query(
    "q_quality_classifier",
    oracle=logreg_oracle(
        iters=LOGREG_ITERS,
        lr_num=LOGREG_LR[0],
        lr_den=LOGREG_LR[1],
        positive_label=POSITIVE_LABEL,
        pos_weight=POS_WEIGHT,
    )
    + f"""
SELECT vec_id, label,
       round(p, 6) AS score,
       CAST(p >= 0.5 AS INT) AS pred
FROM p{LOGREG_ITERS + 1} JOIN e USING (vec_id)
""",
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest logistic quality classifier over the embeddings
    table, trained by LOGREG_ITERS full-batch quantized-gradient
    descent steps (functions/classifier.py) and applied as one codegen
    fold per row — no shuffle in the application plan. The oracle
    replays the entire training as chained CTEs, then scores with the
    replayed weights, so train AND apply are both value-hash-gated.

    The reference engine has no ML surface (its only aggregate is
    min/max — /root/reference/cmd/server/server.go); this extends the
    engine's LLM-pipeline tier with the corpus-quality filter models
    real pipelines train (CCNet/GPT-3-style linear filtering).
    """
    sc = _scored(spark, sf_dir)
    return sc.select(
        "vec_id",
        "label",
        F.round(F.col("p"), 6).alias("score"),
        (F.col("p") >= 0.5).cast("int").alias("pred"),
    )


# ======================================================================
# L34': classifier evaluation (confusion matrix)
# ======================================================================
@query(
    "q_classifier_eval",
    oracle=logreg_oracle(
        iters=LOGREG_ITERS,
        lr_num=LOGREG_LR[0],
        lr_den=LOGREG_LR[1],
        positive_label=POSITIVE_LABEL,
        pos_weight=POS_WEIGHT,
    )
    + f"""
SELECT CAST(y AS INT) AS y_true,
       CAST(p >= 0.5 AS INT) AS pred,
       count(*) AS n
FROM p{LOGREG_ITERS + 1}
GROUP BY 1, 2
""",
)
def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the trained classifier on its training
    corpus (≤4 integer rows): the evaluation aggregate every model
    promotion gate needs. Integer counts — exactly hash-stable."""
    sc = _scored(spark, sf_dir)
    return sc.groupBy(
        F.col("y").cast("int").alias("y_true"),
        (F.col("p") >= 0.5).cast("int").alias("pred"),
    ).agg(F.count(F.lit(1)).alias("n"))


# ======================================================================
# L34'': threshold sweep (PR curve) over the trained scores
# ======================================================================
@query(
    "q_classifier_pr",
    oracle=logreg_oracle(
        iters=LOGREG_ITERS,
        lr_num=LOGREG_LR[0],
        lr_den=LOGREG_LR[1],
        positive_label=POSITIVE_LABEL,
        pos_weight=POS_WEIGHT,
    )
    + f"""
SELECT thr.t AS thr_pct,
       CAST(sum(CASE WHEN y = 1.0 AND p >= thr.t/100.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN y = 0.0 AND p >= thr.t/100.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN y = 1.0 AND p <  thr.t/100.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
FROM p{LOGREG_ITERS + 1},
     (SELECT unnest(generate_series(10, 90, 10)) AS t) thr
GROUP BY thr.t
""",
)
def q_classifier_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall threshold sweep: (tp, fp, fn) integer cells at
    the nine deciles — the curve an operating-threshold choice for the
    quality filter reads off. One scoring pass fanned ×9 by an
    exploded threshold array (no second corpus read, no join); the
    threshold t/100.0 is the same correctly-rounded double in both
    engines, so the >= cut and the integer counts are exactly
    hash-stable. Shares the replayed-training oracle (and, within a
    process, the memoized weights) with q_quality_classifier."""
    sc = _scored(spark, sf_dir)
    ex = sc.select(
        "y",
        "p",
        F.explode(
            F.array(
                *[F.lit(t).cast("long") for t in range(10, 100, 10)]
            )
        ).alias("thr_pct"),  # long: DuckDB generate_series is BIGINT
    )
    cut = F.col("p") >= F.col("thr_pct") / F.lit(100.0)
    return ex.groupBy("thr_pct").agg(
        F.sum(((F.col("y") == 1.0) & cut).cast("long")).alias("tp"),
        F.sum(((F.col("y") == 0.0) & cut).cast("long")).alias("fp"),
        F.sum(((F.col("y") == 1.0) & ~cut).cast("long")).alias("fn"),
    )


# ======================================================================
# L34''': exact AUC (tie-corrected rank-sum / Mann-Whitney)
# ======================================================================
@query(
    "q_classifier_auc",
    oracle=logreg_oracle(
        iters=LOGREG_ITERS,
        lr_num=LOGREG_LR[0],
        lr_den=LOGREG_LR[1],
        positive_label=POSITIVE_LABEL,
        pos_weight=POS_WEIGHT,
    )
    + f""",
g AS MATERIALIZED (
  SELECT p AS s,
         CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
         CAST(sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS cneg
  FROM p{LOGREG_ITERS + 1} GROUP BY p
),
c AS MATERIALIZED (
  SELECT cpos, cneg,
         COALESCE(sum(cneg) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS nb
  FROM g
)
SELECT CAST(sum(cpos) AS BIGINT) AS n_pos,
       CAST(sum(cneg) AS BIGINT) AS n_neg,
       CAST(sum(cpos * 2 * nb + cpos * cneg) AS BIGINT) AS auc_num2,
       round(CAST(sum(cpos * 2 * nb + cpos * cneg) AS DOUBLE)
             / (2.0 * sum(cpos) * sum(cneg)), 6) AS auc
FROM c
""",
)
def q_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC of the trained classifier, tie-corrected
    (Mann-Whitney): doubled concordant-pair count
    ``auc_num2 = Σ_s cpos(s)·(2·negatives_below(s) + cneg(s))`` stays
    an exact BIGINT — each tied score group contributes its positives
    × strictly-lower negatives in full plus half credit for tied
    pairs — so the only float op is the single final division (the
    same correctly-rounded double in both engines).

    Scale shape: the pairwise definition is O(n²); this is the
    rank-sum form — one hash aggregate collapses the corpus to the
    DISTINCT-score table, and the cumulative negatives-below count
    runs over THAT via the W1 two-phase pattern (VERDICT_r7 #4; a
    64-dim logistic score is effectively continuous, so the distinct
    table ≈ the corpus and the old ``Window.orderBy(s)`` form
    single-partitioned it — Spark's WindowExec warning). Here scores
    land on a fixed AUC_BUCKETS-cell grid (p ∈ [0,1] by
    construction): the cross-bucket prefix comes from a tiny
    ≤AUC_BUCKETS-row aggregate (its unpartitioned window is over
    that aggregate, the intentional-and-free W1 shape) broadcast
    back, and the within-bucket cumulative is a window PARTITIONED
    by bucket — every stage is parallel in the bucket count. The
    final integer aggregates are identical, so the oracle is
    unchanged."""
    from pyspark.sql import Window

    sc = _scored(spark, sf_dir)
    g = sc.groupBy(F.col("p").alias("s")).agg(
        F.sum((F.col("y") == 1.0).cast("long")).alias("cpos"),
        F.sum((F.col("y") == 0.0).cast("long")).alias("cneg"),
    )
    gb = g.withColumn(
        "bkt",
        F.least(
            F.lit(AUC_BUCKETS - 1), F.floor(F.col("s") * AUC_BUCKETS)
        ).cast("int"),
    )
    # tiny side: per-bucket negative totals -> exclusive prefix sum
    # (≤ AUC_BUCKETS rows; the unpartitioned window here is the W1
    # tiny-prefix-sum shape, free by construction)
    tiny = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, -1
    )
    bases = (
        gb.groupBy(F.col("bkt").alias("__b"))
        .agg(F.sum("cneg").alias("__bneg"))
        .select(
            "__b",
            F.coalesce(F.sum("__bneg").over(tiny), F.lit(0)).alias(
                "__base"
            ),
        )
    )
    # data side: within-bucket cumulative, partitioned by bucket
    wb = (
        Window.partitionBy("bkt")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = (
        gb.withColumn(
            "__nb_local",
            F.coalesce(F.sum("cneg").over(wb), F.lit(0)),
        )
        .join(F.broadcast(bases), F.col("bkt") == F.col("__b"))
        .select(
            "cpos",
            "cneg",
            (F.col("__base") + F.col("__nb_local")).alias("nb"),
        )
    )
    num2 = F.col("cpos") * 2 * F.col("nb") + F.col("cpos") * F.col("cneg")
    return c.agg(
        F.sum("cpos").alias("n_pos"),
        F.sum("cneg").alias("n_neg"),
        F.sum(num2).alias("auc_num2"),
    ).select(
        "n_pos",
        "n_neg",
        "auc_num2",
        F.round(
            F.col("auc_num2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            ),
            6,
        ).alias("auc"),
    )


# ======================================================================
# L34-b: binned AUC over mergeable integer cells (the streaming form)
# ======================================================================
@query(
    "q_classifier_auc_binned",
    oracle=logreg_oracle(
        iters=LOGREG_ITERS,
        lr_num=LOGREG_LR[0],
        lr_den=LOGREG_LR[1],
        positive_label=POSITIVE_LABEL,
        pos_weight=POS_WEIGHT,
    )
    + f""",
cells AS MATERIALIZED (
  SELECT CAST(least({AUC_BUCKETS - 1}, floor(p * {AUC_BUCKETS})) AS INT)
           AS bin,
         CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
         CAST(sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS cneg
  FROM p{LOGREG_ITERS + 1} GROUP BY 1
),
cum AS MATERIALIZED (
  SELECT cpos, cneg,
         COALESCE(sum(cneg) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS nb
  FROM cells
)
SELECT CAST(sum(cpos) AS BIGINT) AS n_pos,
       CAST(sum(cneg) AS BIGINT) AS n_neg,
       CAST(sum(cpos * 2 * nb + cpos * cneg) AS BIGINT) AS auc_num2,
       round(CAST(sum(cpos * 2 * nb + cpos * cneg) AS DOUBLE)
             / (2.0 * sum(cpos) * sum(cneg)), 6) AS auc
FROM cum
""",
)
def q_classifier_auc_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned AUC over MERGEABLE integer cells — the streaming /
    monitoring form of q_classifier_auc: scores quantize to the
    AUC_BUCKETS grid FIRST, the corpus collapses to ≤AUC_BUCKETS
    (cpos, cneg) cells in ONE map-side-combined hash aggregate, and
    the same tie-corrected rank-sum formula runs over the cells
    (within-bin pairs count as ties — a deterministic function of the
    cells, exact in both engines; |binned − exact| is bounded by the
    within-bin tie credit, asserted ≤ 1/AUC_BUCKETS in pytest).

    Why it earns its own tier: the cells are ADDITIVE BIGINT counters
    — cells(A ∪ B) = cells(A) + cells(B) cell-wise (asserted in
    pytest) — so a streaming serve path accumulates them per epoch as
    a standard windowed aggregate and the monitor reads AUC from the
    merged table with no per-row state; the exact tier's
    distinct-score table can't merge that way. The cumulative window
    here runs over the ≤AUC_BUCKETS-row CELL table (the W1
    tiny-prefix shape, free by construction — unlike the exact
    tier's, which needed the two-phase pattern because its input is
    score-cardinality-sized). The cell expression and the rank-sum
    over cells are the SHARED helpers (functions/classifier.py::
    auc_cells / auc_from_cells) the incremental AucCellStore and the
    streaming ingest also consume — one definition, no drift."""
    from ..functions.classifier import auc_cells, auc_from_cells

    sc = _scored(spark, sf_dir)
    return auc_from_cells(auc_cells(sc, AUC_BUCKETS))


# ======================================================================
# L34'''': calibration (reliability) bins — the binned scale path
# ======================================================================
@query(
    "q_classifier_calibration",
    oracle=logreg_oracle(
        iters=LOGREG_ITERS,
        lr_num=LOGREG_LR[0],
        lr_den=LOGREG_LR[1],
        positive_label=POSITIVE_LABEL,
        pos_weight=POS_WEIGHT,
    )
    + f"""
SELECT CAST(least(9, floor(p * 10)) AS INT) AS bin,
       count(*) AS n,
       CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
       CAST(sum(CAST(floor(p * 1000000.0) AS BIGINT)) AS BIGINT)
         AS sum_p_micro
FROM p{LOGREG_ITERS + 1}
GROUP BY 1
""",
)
def q_classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram cells: per predicted-probability decile,
    row count, positive count, and the micro-quantized score sum
    (``Σ floor(p·1e6)`` — an exact BIGINT, so the 'mean predicted'
    numerator is order-free; a raw float sum would be
    order-sensitive and unhashable). ONE hash aggregate with map-side
    combine — this is the binned scale path the exact AUC's docstring
    points at: it survives any corpus size because cells, not rows,
    bound the output."""
    sc = _scored(spark, sf_dir)
    return sc.groupBy(
        F.least(F.lit(9), F.floor(F.col("p") * 10))
        .cast("int")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("y") == 1.0).cast("long")).alias("pos"),
        F.sum(F.floor(F.col("p") * 1000000.0).cast("long")).alias(
            "sum_p_micro"
        ),
    )


# ======================================================================
# L35: top-2 principal-component projection (power iter + deflation)
# ======================================================================
@query(
    "q_embed_pca",
    oracle=pca_oracle(iters=PCA_ITERS, components=2)
    + f"""
SELECT vec_id, label,
       round(list_dot_product(x, (SELECT v FROM v{PCA_ITERS})), 6) AS pc1,
       round(list_dot_product(x, (SELECT v FROM v2f)), 6) AS pc2
FROM we
""",
)
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection of every embedding onto the corpus's top TWO
    principal components — the whitening-capable form: pc1 by
    PCA_ITERS power-iteration steps over the quantized (winsorized,
    micro-unit) Gram matrix, pc2 by Hotelling deflation of the SAME
    trained Gram (no extra corpus pass) plus one exact Gram–Schmidt
    projection (v1·v2 at machine epsilon by construction). ONE
    integer aggregate pass builds the d×d Gram (O(d²) driver state),
    everything after is O(d²) driver arithmetic, and application is
    one codegen fold per row and component. The oracle replays Gram +
    both iterations + deflation + re-orthogonalization +
    projections, all exactly."""
    emb = load(spark, sf_dir, "embeddings")

    def build():
        g = gram_micro(emb)
        d = 1 + max((i for i, _ in g), default=-1)
        v1 = power_iteration(g, d, iters=PCA_ITERS)
        return v1, deflated_second_component(g, d, iters=PCA_ITERS, v1=v1)

    v1, v2 = trained("pca2", corpus_key(sf_dir), build)
    return emb.select(
        "vec_id",
        "label",
        F.round(pca_project(F.col("embedding"), v1), 6).alias("pc1"),
        F.round(pca_project(F.col("embedding"), v2), 6).alias("pc2"),
    )


#: Components for the top-m PCA tier (q_embed_pca_topm): what a
#: whitening / 2-D-plus visualization stage actually consumes.
PCA_TOPM = 4


def _whiten_model(spark: SparkSession, sf_dir: str):
    """``emb, (comps, lams, n, trace)``: the top-PCA_TOPM
    eigenvalue-ordered components of the trained integer Gram, their
    Rayleigh quotients, the row count and the Gram-diagonal trace —
    ONE Gram pass per corpus fingerprint (``state.trained``), shared
    by every query built on the top-m components."""
    emb = load(spark, sf_dir, "embeddings")

    def build():
        g = gram_micro(emb)
        d = 1 + max((i for i, _ in g), default=-1)
        comps, lams = pca_topm_ordered(g, d, iters=PCA_ITERS, m=PCA_TOPM)
        trace = sum(v for (i, j), v in g.items() if i == j)
        return comps, lams, emb.count(), trace

    return emb, trained("whiten", corpus_key(sf_dir), build)


# ======================================================================
# L35': top-m principal components (repeated deflation + modified GS)
# ======================================================================
@query(
    "q_embed_pca_topm",
    oracle=pca_topm_ordered_oracle(iters=PCA_ITERS, m=PCA_TOPM)
    + "".join(
        [
            """
SELECT vec_id, label,
"""
        ]
        + [
            f"       round(list_dot_product(x, (SELECT v FROM pord"
            f" WHERE r = {r})), 6) AS pc{r}"
            + ("," if r < PCA_TOPM else "")
            + "\n"
            for r in range(1, PCA_TOPM + 1)
        ]
        + ["FROM we\n"]
    ),
)
def q_embed_pca_topm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection onto the corpus's top FOUR principal components
    (VERDICT_r7 #6): the L35 machinery generalized by repeated
    Hotelling deflation with modified Gram–Schmidt at every step
    (functions/classifier.py::pca_topm), with the components labeled
    in EIGENVALUE order (VERDICT_r8 #2, classifier.py::pca_order):
    pc{r} is the r-th largest Rayleigh-quotient direction, λ-sorted
    with a deflation-index tie-break, so a fixed-iteration estimate
    swap on a near-degenerate spectrum (observed λ₂ < λ₃ by ~1% on
    the driver corpus) can no longer mislabel the top directions.
    pc1 is bit-identical to q_embed_pca's (the dominant direction is
    deflation component 1 whenever λ₁ is the max, which the power
    iteration converges to first); later labels follow the λs, not
    the deflation order. Still ONE integer Gram pass over the corpus
    (shared with q_embed_pca through the memo structure), O(m·d²)
    driver arithmetic, and a single codegen projection per row — no
    shuffle, no Python. The oracle replays every deflation, power
    iteration, Gram–Schmidt projection, the rank-exhaustion zero
    cutoff AND the ordering (``ORDER BY lam DESC, c`` over
    bit-identical λs) exactly."""
    emb, (comps, _, _, _) = _whiten_model(spark, sf_dir)
    return emb.select(
        "vec_id",
        "label",
        *[
            F.round(pca_project(F.col("embedding"), comps[c]), 6).alias(
                f"pc{c + 1}"
            )
            for c in range(PCA_TOPM)
        ],
    )


def _pca_scree_oracle() -> str:
    from ..functions.classifier import pca_topm_ordered_oracle

    prefix = pca_topm_ordered_oracle(iters=PCA_ITERS, m=PCA_TOPM)
    return (
        prefix
        + """,
tr AS MATERIALIZED (
  SELECT CAST(coalesce(sum(g), 0) AS BIGINT) AS t FROM gd WHERE i = j
)
SELECT CAST(r AS BIGINT) AS component,
       round(coalesce(lam, 0.0), 6) AS lam,
       CASE WHEN (SELECT t FROM tr) <= 0 THEN 0.0
            ELSE round(coalesce(lam, 0.0)
                       / CAST((SELECT t FROM tr) AS DOUBLE), 6)
       END AS var_ratio
FROM pord
"""
    )


@query("q_embed_pca_scree", oracle=_pca_scree_oracle())
def q_embed_pca_scree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA SCREE — per-component variance-explained ratios
    (λ_r / trace(G)) over the eigenvalue-ordered top-m components:
    the standard how-many-components-do-I-keep diagnostic a whitening
    or dimensionality-reduction stage reads before fixing m. One row
    per ordered component: (component, λ, var_ratio).

    ZERO extra corpus passes: the λs are the deflation tier's own
    Rayleigh quotients (memoized with the whitening artifacts) and
    the trace is the SUM OF THE GRAM DIAGONAL — d BIGINT cells of
    the one trained integer Gram, exact in both engines. The ratio
    is one correctly-rounded double division per component; a
    rank-exhausted component reports λ = 0 and ratio 0; an empty
    corpus reports all-zero rows via the same guarded division. The
    oracle replays training, the eigenvalue ordering (pord), and the
    diagonal trace exactly. Output is model-dimension-bounded (m
    rows) — the scree is a property of the trained artifact, not of
    any corpus row."""
    _, (_, lams, _, trace) = _whiten_model(spark, sf_dir)
    rows = [
        (
            r + 1,
            lam,
            0.0 if trace <= 0 else lam / float(trace),
        )
        for r, lam in enumerate(lams)
    ]
    # rounding stays IN SPARK (F.round is half-up like DuckDB's
    # round; Python's round is banker's — a silent tie-breaking
    # divergence waiting for an exact .5 boundary)
    return spark.createDataFrame(
        rows, "component long, lam double, var_ratio double"
    ).select(
        "component",
        F.round("lam", 6).alias("lam"),
        F.round("var_ratio", 6).alias("var_ratio"),
    )


# ======================================================================
# L36: trained k-means clustering (Lloyd's, training oracle-replayed)
# ======================================================================
@query(
    "q_kmeans_cluster",
    oracle=kmeans_oracle(k=K_CLUSTERS, iters=KMEANS_ITERS)
    + f"""
SELECT e.vec_id, e.label, a.cid
FROM e JOIN a{KMEANS_ITERS + 1} a USING (vec_id)
""",
)
def q_kmeans_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment under a k-means model trained by
    KMEANS_ITERS Lloyd's iterations over the winsorized embeddings
    (functions/kmeans.py) — the real trained artifact behind the IVF
    family's documented centroid stand-in. Training is one pass per
    iteration (broadcast-centroid argmin + a k·d-cell integer
    aggregate, O(k·d) driver state); application is a per-row
    literal-centroid argmin projection — no shuffle, no Python. The
    oracle replays seeding, every assignment and every integer
    centroid update digit-for-digit, then outputs the final model's
    assignments, so a corpus change that flips one centroid's last
    micro-unit digit flips the driver value hash."""
    emb, cm = _kmeans_model(spark, sf_dir)
    return emb.select(
        "vec_id",
        "label",
        kmeans_assign(F.col("embedding"), cm).alias("cid"),
    )


def _kmeans_model(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    cm = trained(
        "kmeans",
        corpus_key(sf_dir),
        lambda: train_kmeans(emb, k=K_CLUSTERS, iters=KMEANS_ITERS),
    )
    return emb, cm


# ======================================================================
# L36': k-means cluster diagnostics (sizes + distance envelopes)
# ======================================================================
@query(
    "q_kmeans_sizes",
    oracle=kmeans_oracle(k=K_CLUSTERS, iters=KMEANS_ITERS)
    + f"""
SELECT cid,
       count(*) AS n,
       min(CAST(floor(d * 1000000.0) AS BIGINT)) AS min_d_micro,
       max(CAST(floor(d * 1000000.0) AS BIGINT)) AS max_d_micro
FROM a{KMEANS_ITERS + 1}
GROUP BY cid
""",
)
def q_kmeans_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster diagnostics of the trained k-means model: member
    count and the micro-quantized min/max squared distance — the
    compactness envelope a clustering-quality gate reads (skewed
    sizes or a blown-out max distance flag a bad fit). min/max of
    exact BIGINTs, never a float sum, so the cells are hash-stable
    AND overflow-free at any corpus size (an inertia SUM would
    exceed BIGINT at ~1e9 rows x the 2.6e14 per-row micro bound).
    One k-key hash aggregate over the assignment projection."""
    emb, cm = _kmeans_model(spark, sf_dir)
    a = kmeans_assign_detail(F.col("embedding"), cm)
    dm = F.floor(a["d"] * F.lit(1000000.0)).cast("long")
    return (
        emb.select(a["c"].alias("cid"), dm.alias("dm"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("dm").alias("min_d_micro"),
            F.max("dm").alias("max_d_micro"),
        )
    )


# ======================================================================
# L37: cluster-balanced downsampling (diversity-preserving selection)
# ======================================================================
def _cbal_oracle() -> str:
    from ..functions.sampling import SAMPLE_MOD
    from ..functions.text import HASH_MOD

    k1 = KMEANS_ITERS + 1
    return (
        kmeans_oracle(k=K_CLUSTERS, iters=KMEANS_ITERS)
        + f""",
sz AS MATERIALIZED (SELECT cid, count(*) AS n_c FROM a{k1} GROUP BY cid),
cap AS MATERIALIZED (
  SELECT (count(*) + {K_CLUSTERS} - 1) // {K_CLUSTERS} AS cap FROM e
)
SELECT e.vec_id, e.label, a.cid
FROM e JOIN a{k1} a USING (vec_id) JOIN sz ON sz.cid = a.cid
WHERE ((('0x' || substr(md5('cbal:' || CAST(e.vec_id AS VARCHAR)), 1, 15))::BIGINT
        % {HASH_MOD}) % {SAMPLE_MOD})
      < least({SAMPLE_MOD},
              (SELECT cap FROM cap) * {SAMPLE_MOD} // sz.n_c)
"""
    )


@query("q_cluster_balanced", oracle=_cbal_oracle())
def q_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced downsampling over the trained k-means model:
    keep each row with per-cluster probability min(1, cap/n_c) where
    cap = ceil(N/k) — over-represented clusters (near-duplicate blobs,
    boilerplate basins) shrink toward the per-cluster budget while
    small clusters survive whole, the SSL-prototypes/SemDeDup-style
    diversity-preserving selection. The rates are exact Python
    integers computed from the ONE k-row size aggregate at build time
    (arbitrary precision — an in-plan ``cap * SAMPLE_MOD`` INT
    product would silently wrap under non-ANSI Spark at cap >= 2148,
    i.e. ~17k rows) and ride into the plan as a literal rate ARRAY
    indexed by cid; the keep decision is the content-keyed md5
    bucket, so the whole selection — including TRAINING the model
    that shapes it — is replayed digit-for-digit by the oracle
    (DuckDB's integral ops are 128-bit, agreeing with Python on all
    positive operands). Plan: ONE scan — assignment projection +
    codegen filter, no join, no shuffle.

    The assignment sits behind a one-row Generate barrier (the L34
    lesson, functions/classifier.py) and the keep predicate
    references ``cid`` exactly once via the array lookup: VERDICT_r7
    #1 measured the previous literal-CASE form at 5x this query's
    assignment cost because Catalyst's filter pushdown substituted
    the full k×d argmin into the projection plus every one of the 8
    CASE branches (``array_min`` ×9 in the executed plan). The
    barrier stops the substitution, so the argmin is evaluated ONCE
    per row (plan-audited: exactly one ``array_min``)."""
    from ..functions.sampling import SAMPLE_MOD, keep_bucket

    emb, cm = _kmeans_model(spark, sf_dir)

    # per-cluster keep rates (SAMPLE_MOD micro-units), memoized with
    # the model: they derive from the k-row size aggregate collected
    # ONCE at build time — never a per-call job or a data-sized join
    def build():
        sizes = {
            r["cid"]: r["n"]
            for r in emb.select(
                kmeans_assign(F.col("embedding"), cm).alias("cid")
            )
            .groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_total = sum(sizes.values())
        cap = (n_total + K_CLUSTERS - 1) // K_CLUSTERS
        return {
            cid: min(SAMPLE_MOD, cap * SAMPLE_MOD // n)
            for cid, n in sizes.items()
        }

    rates = trained("cbal", corpus_key(sf_dir), build)
    rate_arr = F.array(
        *[F.lit(rates.get(c, 0)) for c in range(K_CLUSTERS)]
    )
    assigned = emb.select(
        "vec_id",
        "label",
        F.explode(
            F.array(kmeans_assign(F.col("embedding"), cm))
        ).alias("cid"),
    )
    return assigned.filter(
        keep_bucket(F.col("vec_id"), "cbal")
        < F.get(rate_arr, F.col("cid"))
    )


# ======================================================================
# L38: per-cluster quality stratification (L36 ∘ L21)
# ======================================================================
def _cluster_quality_oracle() -> str:
    from .pipeline_queries import (
        _DUCK_WORDS,
        _lm_cte_sql,
        SELECT_MIN_LOGP,
    )

    return (
        kmeans_oracle(k=K_CLUSTERS, iters=KMEANS_ITERS)
        + f""",
w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
{_lm_cte_sql()}
SELECT a.cid,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN coalesce(lm.avg_logp, -1000000.0)
                          >= {SELECT_MIN_LOGP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN coalesce(lm.avg_logp, -1000000.0)
                          >= {SELECT_MIN_LOGP} THEN d.n_chars ELSE 0 END)
            AS BIGINT) AS chars_pass
FROM a{KMEANS_ITERS + 1} a
JOIN documents d ON d.doc_id = a.vec_id
LEFT JOIN lm ON lm.doc_id = a.vec_id
GROUP BY a.cid
"""
    )


@query("q_cluster_quality", oracle=_cluster_quality_oracle())
def q_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster quality stratification (VERDICT_r7 #7 — L36 ∘
    L21): compose the trained k-means clusters over the embeddings
    with the bigram-LM quality floor over the paired documents
    (doc_id ≡ vec_id in this corpus) into ONE Catalyst plan, and
    report per-cluster total docs, quality-passing docs, and passing
    characters. This is the balanced-selection complement to
    q_pipeline_select: where that query answers "what survives the
    gates per LANGUAGE", this answers it per SEMANTIC CLUSTER — the
    stratification a curriculum/mixture designer reads to see which
    embedding basins the quality filter is starving.

    Scale shape: the assignment is the codegen literal-centroid
    argmin projection (no shuffle on the embeddings side until the
    id join), the LM floor reuses the L17 machinery (per-doc
    distinct-gram joins against broadcastable count tables), both
    sides join on the id (co-partitionable at scale), and the final
    aggregate is k cells. Docs too short to have bigrams carry no LM
    score and fail the floor by the same -1e6 coalesce in both
    engines. avg_logp is rounded to 6dp on BOTH sides before the
    threshold compare (the L17 contract), so the gate cannot flip on
    float residue."""
    from .pipeline_queries import LM_ALPHA, SELECT_MIN_LOGP
    from ..functions.text import bigram_lm_scores

    from ..tables import spread

    emb, cm = _kmeans_model(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    lm = bigram_lm_scores(docs, LM_ALPHA).select("doc_id", "avg_logp")
    # spread before the argmin (the q_dedup_semantic_cells lesson):
    # the single-row-group test scan would serialize the interpreted
    # k×d fold on one thread; the id join reshuffles afterwards
    # anyway, so the extra exchange costs nothing new
    assigned = spread(emb).select(
        F.col("vec_id").alias("doc_id"),
        kmeans_assign(F.col("embedding"), cm).alias("cid"),
    )
    passing = F.coalesce(F.col("avg_logp"), F.lit(-1000000.0)) >= F.lit(
        SELECT_MIN_LOGP
    )
    joined = (
        assigned.join(docs.select("doc_id", "n_chars"), "doc_id")
        .join(lm, "doc_id", "left")
    )
    return joined.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(passing.cast("long")).alias("n_pass"),
        F.sum(
            F.when(passing, F.col("n_chars")).otherwise(F.lit(0))
        ).alias("chars_pass"),
    )


# ======================================================================
# L18': SemDeDup over TRAINED k-means cells (the published recipe)
# ======================================================================
#: The SemDeDup cell model: many small cells (the published recipe
#: uses cluster counts that GROW with the corpus so per-cell pair
#: work stays bounded), few Lloyd's iterations (cell shape converges
#: fast; every extra iteration lengthens the replayed CTE chain).
#:
#: k is corpus-scaled (VERDICT_r8 #5): k = ⌈N / SEM_CELL_TARGET⌉ —
#: the recipe's own knob, replacing the r8 constant SEM_K=64. Cells
#: average SEM_CELL_TARGET vectors at ANY corpus size, so the
#: per-cell quadratic pair cost is flat as N grows (probed in
#: tools/scale_probe.py::semantic_cells). The target is 125 so the
#: driver corpora exercise genuinely different k (500→4, 2000→16);
#: a production deployment tunes it toward the published ~1k
#: vectors/cell. Derivation is integer-only (``//``) and replayed
#: in-oracle by a ``kn`` CTE over the same corpus, so both engines
#: compute the identical k at every fuzzed corpus size.
SEM_CELL_TARGET = 125
SEM_KMEANS_ITERS = 2

#: The k derivation as a DuckDB aggregate over the oracle's ``e`` CTE
#: — must stay arithmetic-identical to :func:`_sem_k`.
_SEM_K_SQL = (
    f"greatest(1, (count(*) + {SEM_CELL_TARGET - 1}) // {SEM_CELL_TARGET})"
)


def _sem_k(n: int) -> int:
    """⌈n / SEM_CELL_TARGET⌉, floored at 1 — exact integer twin of
    :data:`_SEM_K_SQL`."""
    return max(1, (n + SEM_CELL_TARGET - 1) // SEM_CELL_TARGET)


def _sem_kmeans_model(spark: SparkSession, sf_dir: str):
    """``emb, cm``: the corpus-scaled SemDeDup cell model."""
    emb = load(spark, sf_dir, "embeddings")
    cm = trained(
        "sem_kmeans",
        corpus_key(sf_dir),
        lambda: train_kmeans(
            emb, k=_sem_k(emb.count()), iters=SEM_KMEANS_ITERS
        ),
    )
    return emb, cm


def _sem_dedup_oracle() -> str:
    from ..functions.vectors import SEMANTIC_THRESHOLD

    k1 = SEM_KMEANS_ITERS + 1
    cos = (
        "list_dot_product(a.v, b.v) / "
        "(sqrt(list_dot_product(a.v, a.v)) * "
        "sqrt(list_dot_product(b.v, b.v)))"
    )
    return (
        kmeans_oracle(k=_SEM_K_SQL, iters=SEM_KMEANS_ITERS)
        + f""",
ed AS MATERIALIZED (
  SELECT e0.vec_id, e0.embedding::DOUBLE[] AS v, a.cid
  FROM embeddings e0 JOIN a{k1} a USING (vec_id)
),
red AS MATERIALIZED (
  SELECT DISTINCT b.vec_id AS vec_id, TRUE AS dup
  FROM ed a JOIN ed b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {cos} >= {SEMANTIC_THRESHOLD}
)
SELECT ed.vec_id AS vec_id, ed.cid AS cid,
       NOT coalesce(dup, FALSE) AS kept
FROM ed LEFT JOIN red USING (vec_id)
"""
    )


@query("q_dedup_semantic_cells", oracle=_sem_dedup_oracle())
def q_dedup_semantic_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over TRAINED k-means cells — the published recipe
    (cluster with k-means, then inside each cluster drop every vector
    a smaller-id vector covers at cosine >= threshold), now fully
    oracle-replayable because the cell model's TRAINING replays in
    DuckDB (the r7 L36 machinery). q_dedup_semantic's docstring
    documented the sign-LSH bucket as the stand-in it traded for
    replayability; this query retires that trade: cells are a
    CORPUS-SCALED k = ⌈N/SEM_CELL_TARGET⌉ / 2-iteration Lloyd's model
    (memoized per corpus fingerprint), and the keep/drop rule is the
    same min-id dominance.

    Scale shape: assignment is the codegen literal-centroid argmin
    (persisted once — it feeds both self-join sides and the output);
    the cell self-equi-join's per-cell cost is quadratic in cell
    size, and k GROWS with the corpus (VERDICT_r8 #5 — the published
    recipe's own knob, derived in-oracle by the kn CTE) so cells
    average SEM_CELL_TARGET vectors and per-cell pair cost stays
    FLAT at any N (probed in tools/scale_probe.py); the verify is
    an exact cosine INSIDE the join stage. At 100 TB the corpus is
    written partitioned by cid so the self-join is co-located.
    Cosine runs on the RAW embedding (assignment winsorizes
    internally); a zero vector yields NaN cosine, which fails the
    >= threshold gate identically in both engines (fuzz-covered — the
    embeddings family auto-discovers this oracle)."""
    from ..functions.vectors import SEMANTIC_THRESHOLD, cosine
    from ..tables import spread

    emb, cm = _sem_kmeans_model(spark, sf_dir)
    # spread BEFORE the argmin: the test tables are single-row-group
    # parquet (one scan partition), and the corpus-scaled-k
    # (_sem_k = ceil(N/SEM_CELL_TARGET)) interpreted-HOF argmin is
    # the query's dominant CPU — measured 2.4 s serialized on one
    # thread vs ~0.2 s spread across the cores under the old fixed
    # k=64 (the q_dedup_semantic precedent; verify-skill gotcha);
    # the ratio shrinks with the scaled k but the spread still wins
    s = persist(
        spread(emb).select(
            "vec_id",
            "embedding",
            kmeans_assign(F.col("embedding"), cm).alias("cid"),
        )
    )
    a = s.select(
        F.col("vec_id").alias("__ida"),
        F.col("embedding").alias("__va"),
        "cid",
    )
    b = s.select(
        F.col("vec_id").alias("__idb"),
        F.col("embedding").alias("__vb"),
        "cid",
    )
    redundant = (
        a.join(b, "cid")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(
            cosine(F.col("__va"), F.col("__vb"))
            >= F.lit(SEMANTIC_THRESHOLD)
        )
        .select(F.col("__idb").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return s.join(redundant, "vec_id", "left").select(
        "vec_id",
        "cid",
        (~F.coalesce(F.col("__dup"), F.lit(False))).alias("kept"),
    )


# ======================================================================
# L35''': whitening projection (unit-second-moment components)
# ======================================================================
def _whiten_oracle() -> str:
    from ..functions.classifier import pca_topm_ordered_oracle

    prefix = pca_topm_ordered_oracle(iters=PCA_ITERS, m=PCA_TOPM)
    cols = []
    for r in range(1, PCA_TOPM + 1):
        cols.append(
            f"""CASE WHEN (SELECT lam FROM pord WHERE r = {r}) <= 0.0
            THEN 0.0
            ELSE round(
                 list_dot_product(x, (SELECT v FROM pord WHERE r = {r}))
                 / sqrt((SELECT lam FROM pord WHERE r = {r})
                        / (1000000.0 * (SELECT n FROM cnt))), 6)
       END AS w{r}"""
        )
    return (
        prefix
        + """,
cnt AS MATERIALIZED (SELECT count(*) AS n FROM we)
SELECT vec_id, label,
       """
        + ",\n       ".join(cols)
        + "\nFROM we\n"
    )


@query("q_embed_whiten", oracle=_whiten_oracle())
def q_embed_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHITENING projection onto the top-PCA_TOPM components: each
    coordinate is the component projection divided by its estimated
    RMS ``sqrt(λ_c/(MICRO·N))`` — the unit-second-moment rescaling a
    whitening preprocessing stage applies before cosine/classifier
    layers (λ_c is component c's Rayleigh quotient over its own
    deflated Gram, the exact eigenvalue estimate the fixed power
    iteration converged to; the micro-unit Gram makes
    ``E[(x·v_c)²] ≈ λ_c/(MICRO·N)``). Components are labeled in
    EIGENVALUE order (VERDICT_r8 #2): w{r} is the r-th largest-λ
    direction scaled by ITS OWN λ, the same ``ORDER BY lam DESC, c``
    relabeling as q_embed_pca_topm, replayed by the oracle's ``pord``
    CTE. A rank-exhausted zero component carries λ=0, sorts last,
    and whitens to the explicit 0.0 in both engines (guarded
    division, never Inf/NaN).

    Still ZERO extra corpus passes beyond the one trained Gram: the
    λs fall out of pca_topm_detail's existing deflation arithmetic
    (bit-identical to the oracle's lam{c}/lamF CTEs — proven in
    pytest), N is one count, and application is PCA_TOPM codegen
    folds per row scaled by literals — no shuffle, no Python."""
    from ..functions.classifier import whiten_columns

    emb, (comps, lams, n, _) = _whiten_model(spark, sf_dir)

    return emb.select(
        "vec_id",
        "label",
        *whiten_columns(F.col("embedding"), comps, lams, n),
    )


# ======================================================================
# L18''': whitened-space semantic dedup (SemDeDup over whitened cosine)
# ======================================================================
#: Whitened-space dominance threshold. The SemDeDup recipe measures
#: cosine in a NORMALIZED embedding space; the whitened projection
#: (unit second moment per component) is this engine's trained form
#: of that normalization. Whitened cosines concentrate far higher
#: than raw ones (PCA_TOPM=4 coordinates, equalized scales — the
#: same-cell pair p50 is ~0.15 raw vs ~0.75 whitened on the driver
#: corpora), so the gate sits at 0.95, the published recipe's tight
#: cut, NOT the raw-space SEMANTIC_THRESHOLD.
WHITE_SEMANTIC_THRESHOLD = 0.95


def _sem_white_oracle() -> str:
    import re

    from ..functions.classifier import pca_topm_ordered_oracle
    from ..functions.kmeans import kmeans_oracle

    k1 = SEM_KMEANS_ITERS + 1
    km = kmeans_oracle(k=_SEM_K_SQL, iters=SEM_KMEANS_ITERS)
    # the kmeans update CTEs (u1, u2) collide with the PCA power-
    # iteration CTEs (u1..u{PCA_ITERS}) — rename the kmeans family
    # kmu{t}; every u{t} token in that fragment IS an update-CTE
    # definition or reference (checked by the loud guard below, which
    # fails at import time if either builder grows a new collision)
    km = re.sub(r"\bu(\d+)\b", r"kmu\1", km)
    pc = pca_topm_ordered_oracle(iters=PCA_ITERS, m=PCA_TOPM)

    def _ctes(s: str) -> set[str]:
        return set(re.findall(r"(\w+) AS MATERIALIZED", s))

    overlap = _ctes(km) & _ctes(pc)
    if overlap:
        raise ValueError(
            f"sem-white oracle CTE collision after rename: {overlap}"
        )
    # the whitened projection — q_embed_whiten's exact per-component
    # CASE (guarded rank-exhausted 0.0, round 6), assembled into a
    # DuckDB list so the pair cosine reads one column
    wexprs = []
    for r in range(1, PCA_TOPM + 1):
        wexprs.append(
            f"""CASE WHEN (SELECT lam FROM pord WHERE r = {r}) <= 0.0
           THEN 0.0
           ELSE round(
                list_dot_product(x, (SELECT v FROM pord WHERE r = {r}))
                / sqrt((SELECT lam FROM pord WHERE r = {r})
                       / (1000000.0 * (SELECT n FROM wcnt))), 6)
      END"""
        )
    wv = "[" + ",\n      ".join(wexprs) + "]"
    cos = (
        "list_dot_product(a.wv, b.wv) / "
        "(sqrt(list_dot_product(a.wv, a.wv)) * "
        "sqrt(list_dot_product(b.wv, b.wv)))"
    )
    return (
        km
        + ",\n"
        + pc.removeprefix("WITH\n")
        + f""",
wcnt AS MATERIALIZED (SELECT count(*) AS n FROM we),
wd AS MATERIALIZED (
  SELECT we.vec_id, a.cid, {wv} AS wv
  FROM we JOIN a{k1} a USING (vec_id)
),
wred AS MATERIALIZED (
  SELECT DISTINCT b.vec_id AS vec_id, TRUE AS dup
  FROM wd a JOIN wd b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {cos} >= {WHITE_SEMANTIC_THRESHOLD}
)
SELECT wd.vec_id AS vec_id, wd.cid AS cid,
       NOT coalesce(dup, FALSE) AS kept
FROM wd LEFT JOIN wred USING (vec_id)
"""
    )


@query("q_dedup_semantic_white", oracle=_sem_white_oracle())
def q_dedup_semantic_white(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup in WHITENED space (VERDICT_r9 #5) — the published
    recipe measures cosine in a normalized embedding space; this
    variant composes the engine's two trained artifacts: the
    corpus-scaled k-means cells block candidates (the exact
    q_dedup_semantic_cells model, shared memo) and the min-id
    dominance cosine is computed over the PCA-WHITENED projections
    (the exact q_embed_whiten coordinates, shared memo + shared
    whiten_columns expression tree). Whitening equalizes component
    scales, so dominance stops being driven by the top raw-variance
    direction — the normalization step the raw-space variant skips.

    The oracle replays BOTH trainings CTE-for-CTE — Lloyd's
    (kmeans_oracle, update CTEs renamed kmu{t} to clear the PCA
    power-iteration names) then Gram → deflation → eigenvalue
    ordering → whitening (pca_topm_ordered_oracle + the q_embed_whiten
    projection CASE) — then the assignment join and every pair
    decision. Same scale shape as q_dedup_semantic_cells: per-cell
    pair cost stays flat under the corpus-scaled k; the whitened
    coordinates are PCA_TOPM rounded doubles computed BEFORE the
    self-join (persisted once, both sides + output read them); a
    degenerate all-zero whitened vector yields NaN cosine and fails
    the gate identically in both engines."""
    from ..functions.classifier import whiten_columns
    from ..functions.vectors import cosine
    from ..tables import spread

    emb, cm = _sem_kmeans_model(spark, sf_dir)
    _, (comps, lams, n, _) = _whiten_model(spark, sf_dir)
    # spread before the argmin (the q_dedup_semantic_cells lesson),
    # whitened coords computed in the SAME persisted projection
    s = persist(
        spread(emb).select(
            "vec_id",
            kmeans_assign(F.col("embedding"), cm).alias("cid"),
            F.array(
                *whiten_columns(F.col("embedding"), comps, lams, n)
            ).alias("wv"),
        )
    )
    a = s.select(
        F.col("vec_id").alias("__ida"), F.col("wv").alias("__wa"), "cid"
    )
    b = s.select(
        F.col("vec_id").alias("__idb"), F.col("wv").alias("__wb"), "cid"
    )
    redundant = (
        a.join(b, "cid")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(
            cosine(F.col("__wa"), F.col("__wb"))
            >= F.lit(WHITE_SEMANTIC_THRESHOLD)
        )
        .select(F.col("__idb").alias("vec_id"))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return s.join(redundant, "vec_id", "left").select(
        "vec_id",
        "cid",
        (~F.coalesce(F.col("__dup"), F.lit(False))).alias("kept"),
    )


# ======================================================================
# L35''''': PCA reconstruction-error outlier scoring
# ======================================================================
#: Outliers reported: the top-OUTLIER_TOPK residual-energy rows.
OUTLIER_TOPK = 50


def _outlier_oracle() -> str:
    from ..functions.classifier import pca_topm_ordered_oracle as _poo

    prefix = _poo(iters=PCA_ITERS, m=PCA_TOPM)
    caps = "".join(
        f"\n         - (list_dot_product(x, (SELECT v FROM pord WHERE r = {r}))"
        f"\n            * list_dot_product(x, (SELECT v FROM pord WHERE r = {r})))"
        for r in range(1, PCA_TOPM + 1)
    )
    return (
        prefix
        + f"""
SELECT vec_id,
       round(list_dot_product(x, x){caps}, 6) AS resid_energy
FROM we
ORDER BY resid_energy DESC, vec_id
LIMIT {OUTLIER_TOPK}
"""
    )


@query("q_embed_outlier", oracle=_outlier_oracle())
def q_embed_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA RECONSTRUCTION-ERROR outlier scoring (r10) — the standard
    embedding-space outlier filter a curation pipeline runs before
    semantic dedup (the SemDeDup recipe's companion step: vectors the
    principal subspace can't explain are OOD/noise candidates, not
    near-dup candidates). Score = residual energy after projecting
    out the top-PCA_TOPM trained components:
    ``resid = x·x − Σ_r (x·v_r)²`` over the winsorized coordinates,
    reported for the OUTLIER_TOPK highest-residual vectors (rounded
    tie-break on vec_id, the registry top-k rule).

    Shares the _whiten_model trained artifact — ZERO extra training
    passes when any L35 query ran first; the scoring pass itself is
    PCA_TOPM+1 codegen folds per row feeding a
    TakeOrderedAndProject top-k (no global sort, no shuffle beyond
    the k-row gather). Subtraction folds left in eigenvalue order
    (pord r=1..m) in BOTH engines, so the rounded residual is
    bit-identical; orthonormality of the components makes the
    residual the true squared reconstruction error of the rank-m
    projection (up to the fixed-iteration estimate the L35 tier
    documents). The oracle replays training + ordering and the same
    left-assoc subtraction chain."""
    from ..functions.classifier import outlier_residual

    emb, (comps, _, _, _) = _whiten_model(spark, sf_dir)
    return (
        emb.select(
            "vec_id",
            outlier_residual(F.col("embedding"), comps).alias(
                "resid_energy"
            ),
        )
        .orderBy(F.desc("resid_energy"), "vec_id")
        .limit(OUTLIER_TOPK)
    )
