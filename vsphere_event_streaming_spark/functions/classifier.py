"""Deterministically-trained linear models over embedding columns
(SURVEY §2.11 L34/L35) — the data-selection models real pipelines
train on corpus features: a logistic quality classifier (the
GPT-3/CCNet-style binary filter, one-vs-rest here) and a top
principal component (power iteration) for embedding whitening /
projection.

Both TRAININGS are exactly oracle-replayable (the L32 trained-BPE
precedent): every cross-row reduction is an integer sum (order-free),
and every per-row float step is an IEEE-correctly-rounded operation
sequence both engines execute identically (add/mul/div/abs/sqrt/
floor, plus the deterministic left-to-right list fold that
``vectors.dot`` and DuckDB ``list_dot_product`` share — relied on by
every oracled cosine query since r4). Determinism devices, each a
published technique rather than a hack:

- **quantized gradients / quantized Gram**: per-row contributions are
  clamped then ``floor(x * 1e6)``-quantized to BIGINT micro-units, so
  the only order-sensitive float sums become exact integer sums
  (stochastic-rounding-free fixed-point accumulation);
- **per-coordinate gradient clipping** at ±1e3 (standard) bounds the
  quantized magnitude so sums stay far below 2^53/BIGINT range even
  with adversarial 1e12-magnitude fuzz vectors;
- **logit clamp** at ±30 before the link;
- **rational sigmoid** ``σ(z) ≈ 0.5 + z/(2(1+|z|))`` (the "fast
  sigmoid"): add/mul/div/abs only — bit-identical across engines,
  unlike libm ``exp`` whose rounding the IEEE standard does not pin;
- **integer weight state**: weights live as BIGINT micro-units; the
  update ``w -= (Σg·lr_num) // (N·lr_den)`` is EXACT integer floor
  division on both sides (the oracle spells out floor semantics over
  DuckDB's truncating ``//``, the kmeans._FLOORDIV pattern) — a
  float division would round the >2^53 numerator a 100 TB corpus
  produces before dividing, diverging from Python's correctly-rounded
  true quotient.

Scale shape (100 TB): training is K passes over the corpus, each ONE
hash aggregate with map-side combine producing d+1 (classifier) or
d² (Gram) integer cells — driver state is O(K·d) / O(d²) scalars,
exactly the L32 BPE posture (bounded driver collects, no
data-proportional state). Application is a per-row fold — one codegen
projection, no shuffle, no Python.

Reference behavior parity note: the reference engine
(`/root/reference`) has no ML surface; these operators extend the
engine's LLM-data-pipeline tier (project north star), not the
reference's API.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..store import BatchStore
from .vectors import dot

#: Fixed-point scale for weights and quantized gradients (micro-units).
MICRO = 1_000_000
#: Logit clamp before the rational sigmoid.
Z_CLAMP = 30.0
#: Per-coordinate gradient clip (and PCA input winsorization) bound.
G_CLAMP = 1000.0


def augmented(vec: Column) -> Column:
    """``embedding ++ [1.0]`` as array<double> — the bias becomes the
    last coordinate so one weight vector carries (w, b) uniformly."""
    return F.concat(
        vec.cast("array<double>"), F.array(F.lit(1.0).cast("double"))
    )


def _clamp(col: Column, bound: float) -> Column:
    return F.greatest(F.lit(-bound), F.least(F.lit(bound), col))


def rational_sigmoid(z: Column) -> Column:
    """0.5 + z/(2(1+|z|)) after the ±Z_CLAMP logit clamp — every op
    IEEE-correctly-rounded, so Spark and DuckDB produce the same bits
    (libm exp would not)."""
    zc = _clamp(z, Z_CLAMP)
    return F.lit(0.5) + zc / (F.lit(2.0) * (F.lit(1.0) + F.abs(zc)))


def _weights_lit(w_micro: list[int]) -> Column:
    # w/MICRO in Python is the same correctly-rounded double DuckDB's
    # wi/1000000.0 yields — exact literal parity with the oracle CTE.
    return F.array(
        *[F.lit(w / MICRO).cast("double") for w in w_micro]
    )


def logreg_score(vec: Column, w_micro: list[int]) -> Column:
    """p = σ(clamp(w·x̂)) with the trained micro-unit weights — one
    codegen fold per row, no shuffle, no Python."""
    z = dot(augmented(vec), _weights_lit(w_micro))
    return rational_sigmoid(z)


def train_logreg(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    positive_label: int = 0,
    iters: int = 8,
    lr_num: int = 1,
    lr_den: int = 2,
    pos_weight: int = 1,
    init_w_micro: list[int] | None = None,
) -> list[int]:
    """Full-batch gradient-descent logistic regression, returned as
    d+1 BIGINT micro-unit weights (bias last). ``pos_weight`` scales
    the positive class's gradient by an integer factor — the standard
    imbalanced-corpus reweighting (a 10%-positive quality corpus
    otherwise trains an all-negative predictor); applied BEFORE the
    clamp so determinism is untouched.

    ``init_w_micro`` warm-starts from previously-trained micro-unit
    weights — the classifier's INCREMENTAL form. The gradient depends
    on the current weights, so (unlike the Gram/BPE stores) batch
    contributions are not additive; the cadence story is instead:
    retrain warm-started on the grown corpus. The update is a pure
    function of (weights, corpus), so continuing K more iterations
    from a K-iteration checkpoint is BIT-IDENTICAL to training 2K
    from scratch (asserted in ``tests/test_classifier.py``) —
    checkpoint/resume costs nothing in reproducibility.

    Each iteration is ONE integer hash aggregate over the corpus
    (posexplode → groupBy(dim) → exact BIGINT sums, map-side
    combined); the driver holds O(iters·d) scalars — the L32 BPE
    driver-state posture. The exact computation (clamps, quantization,
    update) is replayed verbatim by :func:`logreg_oracle` as chained
    DuckDB CTEs, so a corpus change that flips any weight's last
    micro-unit digit flips the driver value hash.
    """
    from ..tables import spread

    base = spread(
        emb.select(
            augmented(F.col(vec_col)).alias("x"),
            F.when(F.col(label_col) == positive_label, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("y"),
        ),
        min_partitions=8,
    ).persist()
    try:
        n = base.count()
        if n == 0:
            raise ValueError("cannot train on an empty embeddings table")
        d = len(base.first()["x"])
        if init_w_micro is not None and len(init_w_micro) != d:
            raise ValueError(
                f"init_w_micro has {len(init_w_micro)} weights for"
                f" {d}-dim augmented vectors"
            )
        w = list(init_w_micro) if init_w_micro is not None else [0] * d
        wgt = F.when(
            F.col("y") == 1.0, F.lit(float(pos_weight))
        ).otherwise(F.lit(1.0))
        spark = emb.sparkSession
        for _ in range(iters):
            # One pass per iteration: per-row residual g behind a
            # Generate barrier, then a 65-key integer groupBy. The
            # posexplode is deliberate (NOT a d-wide aggregate):
            # CollapseProject would inline the interpreted dot fold
            # into every one of d agg expressions, re-evaluating it
            # d× per row (measured 1.4 s/iter vs 0.8); Generate
            # evaluates g once per input row and carries it. Weights
            # ride in as a broadcast 1-row frame, NOT literals —
            # literal weights change the generated code every
            # iteration and force a codegen recompile per step
            # (w/MICRO in Python is the same correctly-rounded double
            # the oracle's wi/1000000.0 yields, so determinism is
            # unchanged).
            wdf = spark.createDataFrame(
                [([wi / MICRO for wi in w],)], "w array<double>"
            )
            p = rational_sigmoid(dot(F.col("x"), F.col("w")))
            ex = base.join(F.broadcast(wdf)).select(
                ((p - F.col("y")) * wgt).alias("g"),
                F.posexplode(F.col("x")).alias("pos", "xj"),
            )
            q = F.floor(
                _clamp(F.col("g") * F.col("xj"), G_CLAMP)
                * F.lit(float(MICRO))
            )
            sums = {
                r["pos"]: r["s"]
                for r in ex.groupBy("pos")
                .agg(F.sum(q).alias("s"))
                .collect()
            }
            for j in range(d):
                gsum = int(sums.get(j) or 0)
                # exact integer floor division — int/int float
                # division would round a >2^53 numerator before
                # dividing and diverge from the oracle
                w[j] -= (gsum * lr_num) // (n * lr_den)
        return w
    finally:
        base.unpersist()


def _dim_series(src: str, alias: str = "dim") -> str:
    """d-generic dim index source for the oracle: a series sized by
    the data's own max width (NOT a static 4096-row series — a d×d
    self-join of that would nested-loop billions of rows in DuckDB)."""
    return (
        f"(SELECT unnest(generate_series(1,"
        f" (SELECT max(len(x)) FROM {src}))) AS {alias})"
    )


def logreg_oracle(
    iters: int = 8,
    lr_num: int = 1,
    lr_den: int = 2,
    positive_label: int = 0,
    pos_weight: int = 1,
    init_w_micro: list[int] | None = None,
) -> str:
    """The training replay as a chained-CTE prefix (no final SELECT):
    ``WITH e, n, xd, w0, p1, w1, ..., p{K+1}`` — append a final SELECT
    over ``e``/``p{K+1}``/``w{iters}`` to build a query oracle.

    ``p{k}`` scores every row with ``w{k-1}``; ``w{k}`` applies the
    quantized-gradient update. The last scoring CTE ``p{iters+1}``
    carries the FINAL model's per-row probabilities. ``init_w_micro``
    replays a warm-started run: ``w0`` becomes the checkpoint VALUES
    instead of zeros (the :func:`train_logreg` continuation parity).
    """
    sig = "0.5 + zc/(2.0*(1.0+abs(zc)))"
    if init_w_micro is None:
        w0 = (
            "w0 AS MATERIALIZED "
            "(SELECT DISTINCT dim, CAST(0 AS BIGINT) AS wi FROM xd)"
        )
    else:
        vals = ", ".join(
            f"({i + 1}, CAST({wi} AS BIGINT))"
            for i, wi in enumerate(init_w_micro)
        )
        w0 = (
            f"w0 AS MATERIALIZED (SELECT * FROM (VALUES {vals})"
            " t(dim, wi))"
        )
    parts = [
        f"""e AS MATERIALIZED (
  SELECT vec_id, label,
         list_append(embedding::DOUBLE[], 1.0) AS x,
         CASE WHEN label = {positive_label} THEN 1.0 ELSE 0.0 END AS y
  FROM embeddings
)""",
        "nn AS MATERIALIZED (SELECT count(*) AS n FROM e)",
        f"""xd AS MATERIALIZED (
  SELECT vec_id, d.dim, x[d.dim] AS xj
  FROM e JOIN {_dim_series("e")} d ON d.dim <= len(e.x)
)""",
        w0,
    ]
    for k in range(1, iters + 2):
        prev_w = f"w{k - 1}"
        parts.append(
            f"""p{k} AS MATERIALIZED (
  SELECT vec_id, y, {sig} AS p
  FROM (SELECT vec_id, y,
          greatest(-{Z_CLAMP}, least({Z_CLAMP},
            list_dot_product(x,
              (SELECT list(wi/1000000.0 ORDER BY dim) FROM {prev_w})))) AS zc
        FROM e) z
)"""
        )
        if k == iters + 1:
            break
        # exact integer floor division (the kmeans._FLOORDIV pattern;
        # DuckDB's // truncates toward zero, and dividing via DOUBLE
        # would round a >2^53 numerator before dividing): NUM/DEN with
        # DEN = N·lr_den > 0, floor = trunc - [remainder≠0 and NUM<0]
        num = f"(gs.g * {lr_num})"
        den = f"((SELECT n FROM nn) * {lr_den})"
        parts.append(
            f"""w{k} AS MATERIALIZED (
  SELECT gs.dim,
         CAST(w.wi - ({num} // {den}
                 - CASE WHEN {num} % {den} <> 0 AND {num} < 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS wi
  FROM (SELECT xd.dim,
               sum(CAST(floor(
                 greatest(-{G_CLAMP}, least({G_CLAMP},
                   ((p.p - p.y)
                    * (CASE WHEN p.y = 1.0 THEN {pos_weight}.0 ELSE 1.0 END))
                   * xd.xj))
                 * {MICRO}.0) AS BIGINT)) AS g
        FROM xd JOIN p{k} p USING (vec_id)
        GROUP BY xd.dim) gs
  JOIN {prev_w} w ON w.dim = gs.dim
)"""
        )
    return "WITH\n" + ",\n".join(parts)


def train_logreg_reference(
    rows: list[tuple[list[float], int]],
    positive_label: int = 0,
    iters: int = 8,
    lr_num: int = 1,
    lr_den: int = 2,
    pos_weight: int = 1,
    init_w_micro: list[int] | None = None,
) -> list[int]:
    """Pure-Python reference (the L32 three-way-parity pattern): must
    produce BIT-IDENTICAL micro-unit weights to :func:`train_logreg`
    — Python floats are IEEE doubles and ``sum``-free explicit left
    folds mirror the engine's fold order."""

    def sigmoid(z: float) -> float:
        zc = max(-Z_CLAMP, min(Z_CLAMP, z))
        return 0.5 + zc / (2.0 * (1.0 + abs(zc)))

    xs = [(list(v) + [1.0], 1.0 if lab == positive_label else 0.0)
          for v, lab in rows]
    if not xs:
        raise ValueError("cannot train on an empty embeddings table")
    n = len(xs)
    d = len(xs[0][0])
    w = list(init_w_micro) if init_w_micro is not None else [0] * d
    for _ in range(iters):
        wf = [wi / MICRO for wi in w]
        gsum = [0] * d
        for x, y in xs:
            z = 0.0
            for xj, wj in zip(x, wf):
                z = z + xj * wj
            g = (sigmoid(z) - y) * (
                float(pos_weight) if y == 1.0 else 1.0
            )
            for j in range(d):
                gj = max(-G_CLAMP, min(G_CLAMP, g * x[j]))
                gsum[j] += math.floor(gj * MICRO)
        for j in range(d):
            w[j] -= (gsum[j] * lr_num) // (n * lr_den)
    return w


# ======================================================================
# L35: top principal component by power iteration over a quantized Gram
# ======================================================================


def winsorized(vec: Column) -> Column:
    """Per-coordinate clamp to ±G_CLAMP (winsorized PCA — the robust
    preprocessing that also bounds the quantized Gram)."""
    return F.transform(
        vec.cast("array<double>"), lambda x: _clamp(x, G_CLAMP)
    )


def gram_cells(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """The UPPER TRIANGLE (j ≥ i) of the d×d Gram matrix of the
    winsorized embeddings as a cell frame ``(i, j, g)`` with
    ``g = Σ floor(xᵢ·xⱼ·1e6)`` exact BIGINT — ONE pass, one integer
    hash aggregate (map-side combined), d(d+1)/2 rows out regardless
    of corpus size.

    Upper-triangle-only is exact, not an approximation: IEEE
    multiplication commutes (``xᵢ·xⱼ == xⱼ·xᵢ`` bit-for-bit), so
    ``cell(i,j) == cell(j,i)`` and the lower triangle is mirrored on
    the driver (:func:`gram_micro` / :meth:`GramStore.gram`). This
    HALVES the posexplode² Generate fan-out (d²=4,096 → 2,080 rows
    per input row at d=64) — the fan was the PCA path's dominant CPU
    (VERDICT_r7 noted it as the thing to watch if d grows). The
    second explode runs over ``slice(x, i+1, d−i)`` so the discarded
    half is never generated, not generated-then-filtered.

    Integer cells are ADDITIVE, which is what makes the Gram (and
    therefore PCA) incrementally trainable (:class:`GramStore` —
    whose persisted batches are upper-triangle cells too; do not mix
    with pre-r8 full-matrix stores)."""
    w = emb.select(winsorized(F.col(vec_col)).alias("x"))
    ex = (
        w.select(F.posexplode(F.col("x")).alias("i", "xi"), F.col("x"))
        .select(
            F.col("i"),
            F.col("xi"),
            F.posexplode(
                F.slice(
                    F.col("x"), F.col("i") + 1, F.size("x") - F.col("i")
                )
            ).alias("jo", "xj"),
        )
        .select(
            "i", (F.col("i") + F.col("jo")).alias("j"), "xi", "xj"
        )
    )
    cell = F.floor(F.col("xi") * F.col("xj") * F.lit(float(MICRO)))
    return ex.groupBy("i", "j").agg(F.sum(cell).alias("g"))


def _mirror(cells: dict[tuple[int, int], int]) -> dict[tuple[int, int], int]:
    """Reflect upper-triangle cells to the full symmetric dict —
    exact because cell(i,j) == cell(j,i) (commutative multiply)."""
    out = dict(cells)
    for (i, j), g in cells.items():
        if i != j:
            out[(j, i)] = g
    return out


def gram_micro(
    emb: DataFrame, vec_col: str = "embedding"
) -> dict[tuple[int, int], int]:
    """:func:`gram_cells` collected and mirrored to the full O(d²)
    driver cell dict."""
    return _mirror(
        {
            (r["i"], r["j"]): int(r["g"])
            for r in gram_cells(emb, vec_col).collect()
        }
    )


class GramStore(BatchStore):
    """Persistent incremental Gram store — the PCA family's
    incremental form, completing the story every trained artifact in
    this engine tells (text LSH ``dedup.LshIndex``, vector LSH
    ``vectors.VectorLshIndex``, IVF ``vectors.IvfIndex``, BPE
    ``bpe.BpeVocab``): state grows batch-by-batch without recomputing
    history.

    What makes PCA incrementally trainable: power iteration consumes
    ONLY the Gram matrix, and the quantized Gram cells are exact
    BIGINT sums over rows — additive across batches — so the merged
    store's Gram is bit-identical to the from-scratch Gram over the
    batches' union, and a retrain over it yields the bit-identical
    component (asserted in ``tests/test_classifier.py``). Per-batch
    state is d² integers regardless of batch size. Storage contract:
    ``store.py``.

    The on-disk CELL FORMAT is part of the store's identity (ADVICE
    r8 — the BpeVocab ``_ALPHABET`` hazard class): r8 changed batches
    from full-matrix to upper-triangle-only cells, and a store mixing
    the two merges into an asymmetric Gram with no error (the mirror
    pass leaves (i,j) holding a stale lower-only sum while (j,i)
    holds the merged value). A ``_FORMAT`` marker (``ut1``) is the
    store's identity marker (``store.py``), so a pre-r8 store — or any
    foreign directory — raises instead of merging garbage.
    """

    #: Format marker filename + the current cell format tag.
    FORMAT_FILE = MARKER_FILE = "_FORMAT"
    FORMAT = marker = "ut1"  # upper-triangle micro-unit BIGINT cells, v1
    MARKER_WHAT = "cell format"
    MARKER_REMNANT = (
        f"a pre-{FORMAT} (full-matrix) store; mixed formats produce an"
        " asymmetric Gram"
    )

    def add_batch(
        self, emb: DataFrame, batch_id: str, vec_col: str = "embedding"
    ) -> int:
        """Aggregate the batch's Gram cells and persist them as an
        idempotent partition directory. Returns cells written (≤ d²)."""
        return self._write(gram_cells(emb, vec_col), batch_id)

    def gram(self) -> dict[tuple[int, int], int]:
        """The merged Gram over every ingested batch — exactly the
        full-corpus :func:`gram_micro` by cell additivity (batches
        hold upper-triangle cells; the mirror happens here, after the
        merge)."""
        out = (
            self._merged()
            .groupBy("i", "j")
            .agg(F.sum("g").alias("g"))
            .collect()
        )
        return _mirror({(r["i"], r["j"]): int(r["g"]) for r in out})

    def train(self, iters: int = 6) -> list[float]:
        """Top component over the merged Gram — bit-identical to a
        from-scratch :func:`power_iteration` over the batches' union."""
        g = self.gram()
        d = 1 + max((i for i, _ in g), default=-1)
        return power_iteration(g, d, iters=iters)


def _power_iter_mat(g: list[list[float]], iters: int) -> list[float]:
    """Fixed-iteration power iteration over a dense float matrix from
    the all-ones start — explicit left folds so DuckDB's
    ``list_dot_product`` replay is bit-identical."""
    d = len(g)
    v = [1.0 / math.sqrt(float(d))] * d
    for _ in range(iters):
        u = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc = acc + g[i][j] * v[j]
            u.append(acc)
        nrm = 0.0
        for ui in u:
            nrm = nrm + ui * ui
        nrm = math.sqrt(nrm)
        if nrm == 0.0:
            return u  # degenerate (all-zero matrix): projection is 0
        v = [ui / nrm for ui in u]
    return v


def _gram_matrix(
    gram: dict[tuple[int, int], int], d: int
) -> list[list[float]]:
    return [
        [float(gram.get((i, j), 0)) for j in range(d)] for i in range(d)
    ]


def power_iteration(
    gram: dict[tuple[int, int], int], d: int, iters: int = 6
) -> list[float]:
    """Top eigenvector of the micro-unit Gram by fixed-iteration power
    iteration. O(d²) driver work."""
    if d == 0:
        return []
    return _power_iter_mat(_gram_matrix(gram, d), iters)


def deflated_second_component(
    gram: dict[tuple[int, int], int],
    d: int,
    iters: int = 6,
    v1: list[float] | None = None,
) -> list[float]:
    """Second principal component by Hotelling deflation:
    ``G₂ = G − λ·v₁v₁ᵀ`` with ``λ = v₁ᵀGv₁`` (the Rayleigh quotient of
    the unit v₁), then the same fixed power iteration over G₂ — real
    whitening needs more than one direction. Every float op is an
    explicit left fold with the same order as the oracle's
    ``list_dot_product`` replay (``u = Gv₁`` folds j, ``λ = v₁·u``
    folds i, each deflated cell is ``g − (λ·v₁ᵢ)·v₁ⱼ``), so v₂ is
    bit-identical across engines. O(d²) driver work, no extra corpus
    pass — deflation reuses the one trained Gram."""
    if d == 0:
        return []
    g = _gram_matrix(gram, d)
    if v1 is None:
        # caller may pass its already-trained v1 (same iters!) to
        # avoid re-running the first component's iteration
        v1 = _power_iter_mat(g, iters)
    u = []
    for i in range(d):
        acc = 0.0
        for j in range(d):
            acc = acc + g[i][j] * v1[j]
        u.append(acc)
    lam = 0.0
    for i in range(d):
        lam = lam + v1[i] * u[i]
    g2 = [
        [g[i][j] - lam * v1[i] * v1[j] for j in range(d)]
        for i in range(d)
    ]
    w = _power_iter_mat(g2, iters)
    # Gram–Schmidt re-orthogonalization against v₁: fixed-iteration
    # power iteration leaves a residual v₁ overlap bounded by the
    # spectral gap (measured −0.083 at 6 iterations on the driver
    # corpus); one exact projection removes it by construction.
    ov = 0.0
    for i in range(d):
        ov = ov + v1[i] * w[i]
    r = [w[i] - ov * v1[i] for i in range(d)]
    nrm = 0.0
    for ri in r:
        nrm = nrm + ri * ri
    nrm = math.sqrt(nrm)
    if nrm < 1e-9:
        # rank-1 Gram: deflation leaves only float-cancellation
        # residue PARALLEL to v₁ (−ε·v₁v₁ᵀ), which normalization
        # would amplify back to ±v₁ — so a genuinely absent second
        # direction comes back as the explicit zero vector (pc2 = 0
        # for every row). The residual norm of a REAL component is
        # O(1) (√(1−overlap²)), 9+ orders above the cutoff; the same
        # literal comparison runs in the oracle, so the branch is
        # engine-identical.
        return [0.0] * d
    return [ri / nrm for ri in r]


def pca_project(vec: Column, v: list[float]) -> Column:
    """Per-row projection onto the trained component — one codegen
    fold, no shuffle."""
    return dot(
        winsorized(vec), F.array(*[F.lit(x).cast("double") for x in v])
    )


def pca_oracle(iters: int = 6, components: int = 1) -> str:
    """Chained-CTE training replay for the PCA power iteration (no
    final SELECT): ``WITH we, gd, gr, dd, v0, v1, ..., v{iters}`` where
    each ``v{k}`` is ONE row holding the component as a DOUBLE list.
    The Gram rows fold through ``list_dot_product`` in j order and the
    norm folds in i order — exactly :func:`power_iteration`'s loops.

    With ``components=2`` the chain continues through the Hotelling
    deflation (``uZ``/``lam``/``g2d``/``gr2`` then ``v2_0 ...
    v2_{iters}``), replaying :func:`deflated_second_component`: the
    Rayleigh λ folds exactly like the Python loops, and each deflated
    cell is ``g − (λ·v₁ᵢ)·v₁ⱼ`` in the same operation order."""
    parts = [
        """we AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
                        x -> greatest(-1000.0, least(1000.0, x))) AS x
  FROM embeddings
)""",
        f"""gd AS MATERIALIZED (
  SELECT i.dim AS i, j.dim AS j,
         sum(CAST(floor(x[i.dim] * x[j.dim] * {MICRO}.0) AS BIGINT)) AS g
  FROM we
  JOIN {_dim_series("we")} i ON i.dim <= len(we.x)
  JOIN {_dim_series("we")} j ON j.dim <= len(we.x)
  GROUP BY i.dim, j.dim
)""",
        """gr AS MATERIALIZED (
  SELECT i, list(CAST(g AS DOUBLE) ORDER BY j) AS grow FROM gd GROUP BY i
)""",
        "dd AS MATERIALIZED (SELECT count(*) AS d FROM gr)",
        """v0 AS MATERIALIZED (
  SELECT list(1.0 / sqrt((SELECT CAST(d AS DOUBLE) FROM dd)) ORDER BY i) AS v
  FROM gr
)""",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"""u{k} AS MATERIALIZED (
  SELECT list(list_dot_product(grow, (SELECT v FROM v{k - 1})) ORDER BY i) AS u
  FROM gr
)""",
        )
        parts.append(
            f"""v{k} AS MATERIALIZED (
  SELECT CASE WHEN sqrt(list_dot_product(u, u)) = 0.0 THEN u
              ELSE list_transform(u, e -> e / sqrt(list_dot_product(u, u)))
         END AS v
  FROM u{k}
)""",
        )
    if components >= 2:
        parts.append(
            f"""uZ AS MATERIALIZED (
  SELECT list(list_dot_product(grow, (SELECT v FROM v{iters}))
              ORDER BY i) AS u
  FROM gr
)"""
        )
        parts.append(
            f"""lam AS MATERIALIZED (
  SELECT list_dot_product((SELECT v FROM v{iters}), u) AS l FROM uZ
)"""
        )
        parts.append(
            f"""g2d AS MATERIALIZED (
  SELECT gd.i, gd.j,
         CAST(gd.g AS DOUBLE)
           - (SELECT l FROM lam)
             * (SELECT v FROM v{iters})[gd.i]
             * (SELECT v FROM v{iters})[gd.j] AS g
  FROM gd
)"""
        )
        parts.append(
            """gr2 AS MATERIALIZED (
  SELECT i, list(g ORDER BY j) AS grow FROM g2d GROUP BY i
)"""
        )
        parts.append("v2_0 AS MATERIALIZED (SELECT v FROM v0)")
        for k in range(1, iters + 1):
            parts.append(
                f"""u2_{k} AS MATERIALIZED (
  SELECT list(list_dot_product(grow, (SELECT v FROM v2_{k - 1}))
              ORDER BY i) AS u
  FROM gr2
)"""
            )
            parts.append(
                f"""v2_{k} AS MATERIALIZED (
  SELECT CASE WHEN sqrt(list_dot_product(u, u)) = 0.0 THEN u
              ELSE list_transform(u, e -> e / sqrt(list_dot_product(u, u)))
         END AS v
  FROM u2_{k}
)"""
            )
        parts.append(
            f"""ov AS MATERIALIZED (
  SELECT list_dot_product((SELECT v FROM v{iters}),
                          (SELECT v FROM v2_{iters})) AS o
)"""
        )
        parts.append(
            f"""v2r AS MATERIALIZED (
  SELECT list_transform(b.v, (x, i) -> x - o.o * a.v[i]) AS u
  FROM v{iters} a, v2_{iters} b, ov o
)"""
        )
        parts.append(
            """v2f AS MATERIALIZED (
  SELECT CASE WHEN sqrt(list_dot_product(u, u)) < 1e-9
              THEN list_transform(u, e -> 0.0)
              ELSE list_transform(u, e -> e / sqrt(list_dot_product(u, u)))
         END AS v
  FROM v2r
)"""
        )
    return "WITH\n" + ",\n".join(parts)


def pca_topm(
    gram: dict[tuple[int, int], int],
    d: int,
    iters: int = 6,
    m: int = 2,
) -> list[list[float]]:
    """Top-m principal components by repeated Hotelling deflation with
    modified Gram–Schmidt (VERDICT_r7 #6 — 2 components is below what
    whitening needs). Generalizes :func:`power_iteration` (m=1) /
    :func:`deflated_second_component` (m=2) with the SAME float-op
    order, so components 1–2 are bit-identical to those functions:

    - component 1 is the raw power-iteration output (no projection,
      no re-normalization — re-normalizing a normalized vector moves
      last bits);
    - each later component runs the same fixed power iteration over
      ``G_c = G_{c-1} − λ·v v^T`` (λ the Rayleigh quotient of the
      previous FINAL component over G_{c-1}), then one sequential
      Gram–Schmidt projection per previous component (modified GS:
      each projection sees the already-reduced residual), then the
      <1e-9 zero-vector cutoff for exhausted rank (once a component
      collapses to zero, λ=0 leaves the Gram unchanged and every
      later component collapses the same way — rank exhaustion is
      absorbing).

    O(m·d²) driver work on the ONE trained Gram — no extra corpus
    pass. Every fold replays in :func:`pca_topm_oracle`.
    """
    return pca_topm_detail(gram, d, iters=iters, m=m)[0]


def pca_topm_detail(
    gram: dict[tuple[int, int], int],
    d: int,
    iters: int = 6,
    m: int = 2,
) -> tuple[list[list[float]], list[float]]:
    """:func:`pca_topm` plus each component's Rayleigh quotient
    ``λ_c = v_cᵀ G_c v_c`` over its own deflated Gram — the
    eigenvalue estimates a WHITENING projection divides by
    (``E[(x·v_c)²] = λ_c/(MICRO·N)`` for the micro-unit Gram).
    Components are bit-identical to :func:`pca_topm` (same folds; the
    λ of the last component is computed but never deflates
    anything). λ folds exactly as the oracle's ``lam{c}``/``lamF``
    CTEs: ``u = G_c·v_c`` over j, then ``λ = v_c·u`` over i.

    Note the λs are NOT guaranteed monotone-decreasing: a FIXED
    iteration count on nearly-degenerate eigenvalues leaves each
    component a mix of the remaining directions, so adjacent λs can
    swap (observed on the driver corpus: λ₂ < λ₃ by ~1%). That is
    inherent to bounded-iteration deflation, deterministic, and
    harmless to whitening (each component is scaled by ITS OWN λ);
    an ordered spectrum would need a convergence test, which this
    tier deliberately trades away for fixed-replay determinism."""
    if d == 0:
        return [[] for _ in range(m)], [0.0] * m
    g = _gram_matrix(gram, d)
    comps: list[list[float]] = []
    lams: list[float] = []
    for c in range(m):
        w = _power_iter_mat(g, iters)
        if comps:
            r = list(w)
            for vt in comps:
                ov = 0.0
                for i in range(d):
                    ov = ov + vt[i] * r[i]
                r = [r[i] - ov * vt[i] for i in range(d)]
            nrm = 0.0
            for ri in r:
                nrm = nrm + ri * ri
            nrm = math.sqrt(nrm)
            v = [0.0] * d if nrm < 1e-9 else [ri / nrm for ri in r]
        else:
            v = w
        comps.append(v)
        u = []
        for i in range(d):
            acc = 0.0
            for j in range(d):
                acc = acc + g[i][j] * v[j]
            u.append(acc)
        lam = 0.0
        for i in range(d):
            lam = lam + v[i] * u[i]
        lams.append(lam)
        if c + 1 < m:
            g = [
                [g[i][j] - lam * v[i] * v[j] for j in range(d)]
                for i in range(d)
            ]
    return comps, lams


def pca_topm_oracle(
    iters: int = 6, m: int = 2, with_final_lambda: bool = False
) -> str:
    """Chained-CTE replay of :func:`pca_topm` (no final SELECT).

    Extends :func:`pca_oracle`'s chain uniformly: component 1 is the
    ``v0..v{iters}`` power iteration over ``gr``; each component
    ``c ≥ 2`` appends ``ul{c}``/``lam{c}`` (Rayleigh quotient of the
    previous final component over the previous Gram), the deflated
    cells ``gd{c}``/rows ``gr{c}``, its own power iteration
    ``pv{c}_0..pv{c}_{iters}``, the sequential modified-Gram–Schmidt
    residuals ``rr{c}_1..rr{c}_{c-1}`` (one projection per previous
    FINAL component, in component order — the same left folds as the
    Python loop), and the normalized-or-zero final ``vf{c}``. The
    final component names for projection are ``v{iters}`` (c=1) and
    ``vf{c}`` (c ≥ 2).

    ``with_final_lambda`` appends ``ulF``/``lamF`` — the Rayleigh
    quotient of the LAST final component over the last deflated Gram
    — completing the eigenvalue set the whitening tier divides by:
    ``λ_c`` is ``lam{c+1}`` for ``c < m`` and ``lamF`` for
    ``c = m`` (each ``lam{c}`` CTE is component c−1's λ, computed
    where the deflation needs it)."""
    parts = [pca_oracle(iters=iters, components=1)]

    def final(c: int) -> str:
        return f"v{iters}" if c == 1 else f"vf{c}"

    for c in range(2, m + 1):
        prev_rows = "gr" if c == 2 else f"gr{c - 1}"
        prev_cells_g = (
            "CAST(gd.g AS DOUBLE)" if c == 2 else f"gd{c - 1}.g"
        )
        prev_cells = "gd" if c == 2 else f"gd{c - 1}"
        pf = final(c - 1)
        parts.append(
            f"""ul{c} AS MATERIALIZED (
  SELECT list(list_dot_product(grow, (SELECT v FROM {pf}))
              ORDER BY i) AS u
  FROM {prev_rows}
)"""
        )
        parts.append(
            f"""lam{c} AS MATERIALIZED (
  SELECT list_dot_product((SELECT v FROM {pf}), u) AS l FROM ul{c}
)"""
        )
        parts.append(
            f"""gd{c} AS MATERIALIZED (
  SELECT {prev_cells}.i, {prev_cells}.j,
         {prev_cells_g}
           - (SELECT l FROM lam{c})
             * (SELECT v FROM {pf})[{prev_cells}.i]
             * (SELECT v FROM {pf})[{prev_cells}.j] AS g
  FROM {prev_cells}
)"""
        )
        parts.append(
            f"""gr{c} AS MATERIALIZED (
  SELECT i, list(g ORDER BY j) AS grow FROM gd{c} GROUP BY i
)"""
        )
        parts.append(f"pv{c}_0 AS MATERIALIZED (SELECT v FROM v0)")
        for k in range(1, iters + 1):
            parts.append(
                f"""pu{c}_{k} AS MATERIALIZED (
  SELECT list(list_dot_product(grow, (SELECT v FROM pv{c}_{k - 1}))
              ORDER BY i) AS u
  FROM gr{c}
)"""
            )
            parts.append(
                f"""pv{c}_{k} AS MATERIALIZED (
  SELECT CASE WHEN sqrt(list_dot_product(u, u)) = 0.0 THEN u
              ELSE list_transform(u, e -> e / sqrt(list_dot_product(u, u)))
         END AS v
  FROM pu{c}_{k}
)"""
            )
        # sequential modified Gram–Schmidt: rr{c}_0 is the power-iter
        # output; each rr{c}_{t} subtracts the projection onto the
        # t-th previous FINAL component from the running residual
        parts.append(
            f"rr{c}_0 AS MATERIALIZED (SELECT v AS u FROM pv{c}_{iters})"
        )
        for t in range(1, c):
            vt = final(t)
            parts.append(
                f"""ov{c}_{t} AS MATERIALIZED (
  SELECT list_dot_product((SELECT v FROM {vt}),
                          (SELECT u FROM rr{c}_{t - 1})) AS o
)"""
            )
            parts.append(
                f"""rr{c}_{t} AS MATERIALIZED (
  SELECT list_transform(b.u, (x, i) -> x - o.o * a.v[i]) AS u
  FROM {vt} a, rr{c}_{t - 1} b, ov{c}_{t} o
)"""
            )
        parts.append(
            f"""vf{c} AS MATERIALIZED (
  SELECT CASE WHEN sqrt(list_dot_product(u, u)) < 1e-9
              THEN list_transform(u, e -> 0.0)
              ELSE list_transform(u, e -> e / sqrt(list_dot_product(u, u)))
         END AS v
  FROM rr{c}_{c - 1}
)"""
        )
    if with_final_lambda:
        last_rows = "gr" if m == 1 else f"gr{m}"
        lastf = f"v{iters}" if m == 1 else f"vf{m}"
        parts.append(
            f"""ulF AS MATERIALIZED (
  SELECT list(list_dot_product(grow, (SELECT v FROM {lastf}))
              ORDER BY i) AS u
  FROM {last_rows}
)"""
        )
        parts.append(
            f"""lamF AS MATERIALIZED (
  SELECT list_dot_product((SELECT v FROM {lastf}), u) AS l FROM ulF
)"""
        )
    return ",\n".join(parts)


def pca_order(lams: list[float]) -> list[int]:
    """Eigenvalue ordering of the deflation-order components
    (VERDICT_r8 #2): indices sorted by λ DESCENDING, ties broken on
    the deflation index ASCENDING. A FIXED iteration count on a
    nearly-degenerate spectrum can leave adjacent Rayleigh estimates
    swapped (observed λ₂ < λ₃ by ~1% on the driver corpus), so the
    "top-m" labels are assigned by the λs themselves, not by
    deflation order. Both compare operands are bit-identical across
    engines (same folds), so the sort — and therefore the pc{r}/w{r}
    labeling — is engine-identical; the oracle runs the same
    ``ORDER BY lam DESC, c`` in :func:`pca_topm_ordered_oracle`.
    Rank-exhausted components carry λ = +0.0 exactly (every fold is a
    product with the explicit zero vector) and sort last."""
    return sorted(range(len(lams)), key=lambda c: (-lams[c], c))


def pca_topm_ordered(
    gram: dict[tuple[int, int], int],
    d: int,
    iters: int = 6,
    m: int = 2,
) -> tuple[list[list[float]], list[float]]:
    """:func:`pca_topm_detail` with components and λs re-labeled in
    eigenvalue order (λ descending, deflation-index tie-break) — the
    form the declared queries project with, so pc1 is always the
    LARGEST-variance direction the fixed iteration found, never just
    "whatever deflated first". The component VECTORS are untouched
    (bit-identical to the deflation-order output; only the labels
    move), so the pairwise-orthogonality and replay guarantees of
    :func:`pca_topm` carry over unchanged.

    Caveat (documented per VERDICT_r8 #2): on a spectrum with
    λ₁ ≈ λ₂ the fixed-iteration estimates decide the order, and each
    component is itself a residual mix of the near-degenerate
    directions — ordering makes the labels honest about the
    ESTIMATES, it cannot sharpen the estimates themselves (that would
    need a convergence test, which this tier deliberately trades away
    for fixed-replay determinism)."""
    comps, lams = pca_topm_detail(gram, d, iters=iters, m=m)
    order = pca_order(lams)
    return [comps[c] for c in order], [lams[c] for c in order]


def whiten_columns(
    vec: Column,
    comps: list[list[float]],
    lams: list[float],
    n: int,
) -> list[Column]:
    """The whitening APPLICATION as literal-scaled codegen folds:
    ``w{c+1} = round((x·v_c) / sqrt(λ_c/(MICRO·N)), 6)`` per
    component, with a rank-exhausted component (λ ≤ 0) whitening to
    the explicit 0.0 (guarded division, never Inf/NaN). Stateless per
    row — shared by the batch query (q_embed_whiten) and the
    streaming serve path (streaming/model_stream.py) so the two can
    never drift; parity is exact by construction (same expression
    tree)."""
    cols: list[Column] = []
    for c, (v, lam) in enumerate(zip(comps, lams)):
        if lam <= 0.0:
            cols.append(F.lit(0.0).alias(f"w{c + 1}"))
        else:
            scale = math.sqrt(lam / (float(MICRO) * n))
            cols.append(
                F.round(pca_project(vec, v) / F.lit(scale), 6).alias(
                    f"w{c + 1}"
                )
            )
    return cols


def pca_topm_ordered_oracle(iters: int = 6, m: int = 2) -> str:
    """:func:`pca_topm_oracle` (``with_final_lambda=True``) plus the
    eigenvalue-ordering CTEs replaying :func:`pca_topm_ordered`:

    - ``pcomps``: one row per deflation-order component ``c`` with
      its λ (component c's λ is ``lam{c+1}`` for c < m, ``lamF`` for
      c = m — each ``lam{c}`` CTE is component c−1's Rayleigh
      quotient, computed where the deflation needs it) and its final
      vector (``v{iters}`` for c=1, ``vf{c}`` after);
    - ``pord``: ``row_number() OVER (ORDER BY lam DESC, c)`` — the
      exact sort key of :func:`pca_order`, over bit-identical λs.

    Consumers project with ``(SELECT v FROM pord WHERE r = {r})`` and
    scale with ``(SELECT lam FROM pord WHERE r = {r})``."""
    prefix = pca_topm_oracle(iters=iters, m=m, with_final_lambda=True)

    def final(c: int) -> str:
        return f"v{iters}" if c == 1 else f"vf{c}"

    def lam(c: int) -> str:
        return f"lam{c + 1}" if c < m else "lamF"

    rows = "\n  UNION ALL ".join(
        f"SELECT {c} AS c, (SELECT l FROM {lam(c)}) AS lam,"
        f" (SELECT v FROM {final(c)}) AS v"
        for c in range(1, m + 1)
    )
    return (
        prefix
        + f""",
pcomps AS MATERIALIZED (
  {rows}
),
pord AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY lam DESC, c) AS r, lam, v
  FROM pcomps
)"""
    )


# ----------------------------------------------------------------------
# Binned-AUC cells (L34-b): the mergeable evaluation aggregate
# ----------------------------------------------------------------------
def auc_cells(
    scored: DataFrame, n_buckets: int = 128
) -> DataFrame:
    """Collapse a scored frame (columns ``y`` ∈ {0.0, 1.0} and
    ``p`` ∈ [0,1]) to the ≤``n_buckets`` ADDITIVE BIGINT
    ``(bin, cpos, cneg)`` cells the binned AUC consumes — ONE
    map-side-combined hash aggregate. Shared by the declared query
    (q_classifier_auc_binned), the :class:`AucCellStore`, and the
    streaming ingest, so the three can never drift."""
    return scored.groupBy(
        F.least(
            F.lit(n_buckets - 1), F.floor(F.col("p") * n_buckets)
        )
        .cast("int")
        .alias("bin")
    ).agg(
        F.sum((F.col("y") == 1.0).cast("long")).alias("cpos"),
        F.sum((F.col("y") == 0.0).cast("long")).alias("cneg"),
    )


def auc_from_cells(cells: DataFrame) -> DataFrame:
    """Tie-corrected rank-sum AUC over a (bin, cpos, cneg) cell
    frame: the cumulative negatives-below runs over the ≤n_buckets
    cell table (the W1 tiny-prefix shape, free by construction), the
    doubled concordant count stays an exact BIGINT, and the single
    float division is the same correctly-rounded double in every
    engine. Returns one row (n_pos, n_neg, auc_num2, auc)."""
    from pyspark.sql import Window

    tiny = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = cells.select(
        "cpos",
        "cneg",
        F.coalesce(F.sum("cneg").over(tiny), F.lit(0)).alias("nb"),
    )
    num2 = (
        F.col("cpos") * 2 * F.col("nb") + F.col("cpos") * F.col("cneg")
    )
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


class AucCellStore(BatchStore):
    """Persistent incremental binned-AUC store — the EVALUATION
    tier's incremental form, completing the story every trained
    artifact in this engine tells (GramStore, BpeVocab, the LSH/IVF
    indexes): the ``(bin, cpos, cneg)`` cells are additive BIGINTs
    (``cells(A ∪ B) = cells(A) + cells(B)`` cell-wise — the L34-b
    contract, pytest-proven), so a monitor ingests each scored crawl
    batch as cells and reads the running corpus AUC from the merged
    table with per-batch state ≤ n_buckets integers, never per-row
    state. Storage contract: ``store.py``.
    """

    def __init__(self, spark, path: str, n_buckets: int = 128) -> None:
        super().__init__(spark, path)
        self.n_buckets = n_buckets

    def add_batch(self, scored: DataFrame, batch_id: str) -> int:
        """Collapse the scored batch to cells and persist them as an
        idempotent partition directory. Returns cells written."""
        return self._write(auc_cells(scored, self.n_buckets), batch_id)

    def cells(self) -> DataFrame:
        """The merged cells over every ingested batch — exactly the
        full-corpus :func:`auc_cells` by additivity."""
        return (
            self._merged()
            .groupBy("bin")
            .agg(
                F.sum("cpos").alias("cpos"),
                F.sum("cneg").alias("cneg"),
            )
        )

    def auc(self) -> DataFrame:
        """The running binned AUC over everything ingested —
        bit-identical to the full-corpus q_classifier_auc_binned
        values by cell additivity."""
        return auc_from_cells(self.cells())


def outlier_residual(vec: Column, comps: list[list[float]]) -> Column:
    """PCA reconstruction-error residual:
    ``round(x·x − Σ_r (x·v_r)², 6)`` over the winsorized coordinates,
    subtracting in component order as a left fold (the oracle's
    left-assoc chain). ONE implementation shared by the declared
    query (q_embed_outlier) and the streaming serve path
    (model_stream.streaming_outlier_scores) so the two can never
    drift; stateless per row — m+1 codegen folds, no shuffle."""
    wx = winsorized(vec)
    resid = dot(wx, wx)
    for v in comps:
        p = pca_project(vec, v)
        resid = resid - p * p
    return F.round(resid, 6)
