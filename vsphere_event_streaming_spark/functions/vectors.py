"""Vector similarity operators (SURVEY §2.11 L3).

Two compute paths:

- **expression path** (default): ``zip_with`` + ``aggregate`` dot
  products in double precision — JVM-side, deterministic sequential
  summation, no Python transfer. Right for one-query-vs-corpus top-k.
- **pandas_udf path**: Arrow-batched numpy for pairwise columns —
  ~10-100× faster than row-at-a-time Python when Python math is
  unavoidable.

Top-k never global-sorts: ``orderBy(desc).limit(k)`` compiles to
TakeOrderedAndProject (per-partition heap + k-row merge).

The IVF variant is the 100 TB path: a tiny centroid table (broadcast)
prunes the corpus to ~nprobe/ncentroids of its rows before exact
scoring — the brute-force scan stays as the small-corpus baseline and
the recall oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..store import BatchStore, batch_partition_dir


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ in double precision, deterministic left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# DoubleType() instance (not "double" string): the string form needs an
# active SparkContext to parse at import time.
@pandas_udf(DoubleType())
def cosine_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched cosine; numpy float64 per row."""
    import numpy as np

    def one(x, y):
        if x is None or y is None:
            return None
        x = np.asarray(x, dtype="float64")
        y = np.asarray(y, dtype="float64")
        d = float(np.sqrt(x.dot(x)) * np.sqrt(y.dot(y)))
        return float(x.dot(y) / d) if d else None

    return pd.Series([one(x, y) for x, y in zip(a, b)])


def knn_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k of ``corpus`` against a 1-row ``query``
    DataFrame (column ``q``). The query side is broadcast; the corpus
    is scanned once, embarrassingly parallel; top-k is a heap merge.
    """
    scored = corpus.join(F.broadcast(query)).select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col), F.col("q")), 6).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def assign_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF assignment: nearest centroid per vector.

    ``centroids`` is (centroid_id, cvec); it is broadcast — the corpus
    never shuffles. Output: corpus columns + ``centroid_id`` +
    ``centroid_score``.
    """
    from pyspark.sql import Window

    scored = corpus.join(F.broadcast(centroids)).withColumn(
        "centroid_score", cosine(F.col(vec_col), F.col("cvec"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("centroid_score").desc(), F.col("centroid_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "cvec")
    )


def ivf_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search: score centroids vs query, keep nprobe best cells,
    exact-score only vectors in those cells.

    At scale the assignment is precomputed (a partition column), so
    probing reads ~nprobe/ncentroids of the data — partition pruning
    does the work. Here assignment happens inline for self-containment.
    """
    assigned = assign_centroids(corpus, centroids, id_col, vec_col)
    probe_cells = (
        centroids.join(F.broadcast(query))
        .select(
            "centroid_id", cosine(F.col("cvec"), F.col("q")).alias("cscore")
        )
        .orderBy(F.col("cscore").desc(), F.col("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    candidates = assigned.join(F.broadcast(probe_cells), "centroid_id")
    return knn_topk(candidates, query, k, id_col, vec_col)


def write_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index: corpus partitioned by assigned cell.

    This is the 100 TB layout the inline ``ivf_topk`` stands in for:
    ``partitionBy("centroid_id")`` makes every cell its own directory,
    so probing reads only nprobe cells via *partition pruning* — the
    scan never touches the other ~(1 − nprobe/n) of the data.
    """
    assigned = assign_centroids(corpus, centroids, id_col, vec_col)
    (
        assigned.select(id_col, vec_col, "centroid_id")
        .write.partitionBy("centroid_id")
        .mode("overwrite")
        .parquet(path)
    )


def ivf_topk_indexed(
    spark,
    index_path: str,
    centroids: DataFrame,
    query: DataFrame,
    k: int = 10,
    nprobe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search against a materialized index (see ``write_ivf_index``).

    Probe cells are chosen driver-side (a ≤n-centroids computation) and
    applied as a *literal* ``isin`` predicate on the partition column —
    the plan's PartitionFilters prune unprobed cells before any I/O.
    """
    probed = (
        centroids.join(F.broadcast(query))
        .select(
            "centroid_id", cosine(F.col("cvec"), F.col("q")).alias("cscore")
        )
        .orderBy(F.col("cscore").desc(), F.col("centroid_id"))
        .limit(nprobe)
        .collect()
    )
    cells = [r["centroid_id"] for r in probed]
    candidates = spark.read.parquet(index_path).filter(
        F.col("centroid_id").isin(cells)
    )
    return knn_topk(candidates, query, k, id_col, vec_col)


def kmeans_fit(
    corpus: DataFrame,
    k: int = 10,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd's) for IVF centroid training.

    Per iteration: (1) nearest-centroid assignment — centroid table
    broadcast, corpus never shuffles; (2) per-cell mean — posexplode →
    (centroid, dim) partial+final hash aggregate, shuffle bounded by
    k×d groups, not by rows; (3) L2-normalize the k×d result on the
    driver (the ONLY driver-side data is the centroid table itself,
    O(k·d) — the same shape MLlib's KMeans collects per iteration).
    Assignment by cosine + normalized-mean update = spherical k-means,
    whose objective (mean max-cosine) is non-decreasing; init is the
    deterministic seed so runs are reproducible.

    Scale: one broadcast join + one k×d-bounded shuffle per iteration;
    at 100 TB with k=65k cells the centroid table is ~16 MB — still
    broadcastable.
    """
    import math

    centroids = deterministic_centroids(corpus, k, id_col, vec_col)
    for _ in range(iters):
        assigned = assign_centroids(corpus, centroids, id_col, vec_col)
        cells = (
            assigned.select(
                "centroid_id", F.posexplode(vec_col).alias("pos", "v")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg("v").alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in cells:
            by_cid.setdefault(r["centroid_id"], {})[r["pos"]] = r["m"]
        rows = []
        for cid, dims in sorted(by_cid.items()):
            vec = [dims[p] for p in range(len(dims))]
            nrm = math.sqrt(sum(x * x for x in vec)) or 1.0
            rows.append((cid, [x / nrm for x in vec]))
        centroids = corpus.sparkSession.createDataFrame(
            rows, "centroid_id long, cvec array<double>"
        )
    return centroids


def kmeans_objective(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean best-centroid cosine — the spherical k-means objective."""
    return (
        assign_centroids(corpus, centroids, id_col, vec_col)
        .agg(F.avg("centroid_score"))
        .first()[0]
    )


def deterministic_centroids(
    corpus: DataFrame,
    n: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic 'trained' centroids: the n lowest-id vectors.

    A stand-in for a k-means fit (sampled + iterated offline at real
    scale); keeps every run and every engine reproducible.
    """
    return (
        corpus.orderBy(id_col)
        .limit(n)
        .select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cvec")
        )
    )


#: Deterministic pseudo-random hyperplane family for sign-LSH — plain
#: modular arithmetic (like MINHASH_PARAMS) so the DuckDB oracle can
#: replay the identical planes: plane(j, i) ∈ (-0.5, 0.5).
HYPER_P1 = 2_654_435_761
HYPER_P2 = 40_503
HYPER_MOD = 1_000_003


def _plane(j: int, i: Column) -> Column:
    """plane[j][i] = ((j·P1 + i·P2 + 1) mod M)/M − 0.5, exact in
    double (every intermediate < 2^63; the quotient has ≤20 bits)."""
    h = (F.lit(j) * F.lit(HYPER_P1) + i * F.lit(HYPER_P2) + 1) % F.lit(
        HYPER_MOD
    )
    return h.cast("double") / F.lit(float(HYPER_MOD)) - F.lit(0.5)


def hyperplane_sig(vec: Column, n_bits: int = 6) -> Column:
    """Sign-LSH bucket id: bit j = [plane_j · vec > 0].

    Each dot product is the same deterministic left-to-right double
    fold as :func:`dot` (index order), so an engine replaying the
    arithmetic — Spark or the DuckDB oracle — lands every vector in
    the identical bucket. Constant output bytes per vector; the
    bucket id is a shuffle/partition key at scale.
    """
    def dot_j(j: int) -> Column:
        return F.aggregate(
            F.sequence(F.lit(0), F.size(vec) - 1),
            F.lit(0.0).cast("double"),
            lambda acc, i: acc
            + F.element_at(vec, (i + 1).cast("int")).cast("double")
            * _plane(j, i),
        )

    sig = F.lit(0)
    for j in range(n_bits):
        sig = sig + F.when(dot_j(j) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return sig.cast("int")


def min_id_query_split(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[DataFrame, DataFrame]:
    """Deterministic (query, corpus) split: the min-id vector becomes
    the 1-row broadcast query column ``q``; everything else is the
    corpus. The shared scaffold of every ANN declared query — one
    place to change the selection convention instead of a copy per
    query."""
    qmin = emb.agg(F.min(id_col).alias("__qid"))
    qvec = emb.join(
        F.broadcast(qmin), F.col(id_col) == F.col("__qid")
    ).select(F.col(vec_col).alias("q"))
    corpus = (
        emb.join(F.broadcast(qmin))
        .filter(F.col(id_col) != F.col("__qid"))
        .drop("__qid")
    )
    return qvec, corpus


SEMANTIC_THRESHOLD = 0.3


def semantic_dedup(
    emb: DataFrame,
    threshold: float = SEMANTIC_THRESHOLD,
    n_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication, restated deterministically.

    The published recipe (cluster embeddings, then inside each cluster
    drop all but one of every high-cosine group) uses trained k-means
    clusters; this variant substitutes the sign-LSH bucket — pure
    arithmetic, so every keep/drop decision is replayable by a SQL
    oracle. Rule: a vector is redundant iff some smaller-id vector in
    its bucket has cosine >= threshold with it (min-id dominance —
    simple, order-free, engine-independent).

    Returns every input row as ``(id, sig, kept)``.

    Scale shape: one signature projection (constant bytes/vector), a
    bucket self-equi-join whose per-bucket cost is quadratic in bucket
    size — bounded by raising n_bits with corpus size (buckets of ~1k
    vectors at any N), never all-pairs — and a bucket-local anti-join.
    At 100 TB the corpus is written bucketed by sig so the self-join
    is co-located and shuffle-free.
    """
    # The sig projection (n_bits interpreted-lambda dot products per
    # vector) feeds three consumers (both join sides + the output);
    # persist it once, registered so state.release_cached() frees
    # it. A/B at sf0.1: 1.52 s recomputed vs 0.87 s persisted.
    from ..state import persist

    s = persist(
        emb.select(
            id_col,
            vec_col,
            hyperplane_sig(F.col(vec_col), n_bits).alias("sig"),
        )
    )
    a = s.select(
        F.col(id_col).alias("__ida"), F.col(vec_col).alias("__va"), "sig"
    )
    b = s.select(
        F.col(id_col).alias("__idb"), F.col(vec_col).alias("__vb"), "sig"
    )
    redundant = (
        a.join(b, "sig")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(cosine(F.col("__va"), F.col("__vb")) >= F.lit(threshold))
        .select(F.col("__idb").alias(id_col))
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return s.join(redundant, id_col, "left").select(
        id_col,
        "sig",
        (~F.coalesce(F.col("__dup"), F.lit(False))).alias("kept"),
    )


def hyperplane_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH ANN: exact cosine top-k *within the query's bucket*.

    The bucket equi-join replaces IVF's centroid pruning with a
    data-independent hash — no training pass, fully deterministic, so
    unlike IVF this approximate index is oracle-checkable end-to-end.
    At scale the corpus is bucketed/partitioned by sig once and each
    query touches one partition (+ Hamming-neighbor probes for higher
    recall, the standard extension).
    """
    qsig = query.select(
        F.col("q").alias("__q"),
        hyperplane_sig(F.col("q"), n_bits).alias("__sig"),
    )
    csig = corpus.select(
        id_col, vec_col, hyperplane_sig(F.col(vec_col), n_bits).alias("__sig")
    )
    return (
        csig.join(F.broadcast(qsig), "__sig")
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), F.col("__q")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


def hyperplane_topk_probed(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_bits: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-LSH ANN with Hamming-1 multiprobe — the standard recall
    extension: the query also probes every bucket whose signature
    differs in exactly one bit (n_bits+1 probes total), trading a
    bounded constant factor of candidates for recall that survives
    borderline hyperplane votes.

    Scale shape unchanged from :func:`hyperplane_topk`: the probe set
    explodes from the 1-row query side, so the corpus still sees one
    broadcast equi-join on its (single) bucket key — at 100 TB the
    corpus stays partitioned by sig and each query touches
    ``n_bits + 1`` partitions.
    """
    probes = F.array(
        F.col("__sig"),
        *[F.col("__sig").bitwiseXOR(F.lit(1 << j)) for j in range(n_bits)],
    )
    qsig = (
        query.select(
            F.col("q").alias("__q"),
            hyperplane_sig(F.col("q"), n_bits).alias("__sig"),
        )
        .select("__q", F.explode(probes).alias("__sig"))
    )
    csig = corpus.select(
        id_col, vec_col, hyperplane_sig(F.col(vec_col), n_bits).alias("__sig")
    )
    return (
        csig.join(F.broadcast(qsig), "__sig")
        .select(
            id_col,
            F.round(cosine(F.col(vec_col), F.col("__q")), 6).alias("score"),
        )
        .orderBy(F.desc("score"), id_col)
        .limit(k)
    )


#: Scalar quantization (FAISS-SQ-style): every dimension maps to a
#: SQ_LEVELS-level uniform grid over the corpus's global [lo, hi]
#: value range — 4 bits/dim here, an 8× compression vs float32 that
#: keeps L2 ranking nearly exact (recall@10 = 8/10 on the test
#: corpus vs 0 for random product codebooks, which cannot rank
#: isotropic data; trained-k-means PQ is the production refinement
#: and keeps this exact ADC plan shape).
SQ_LEVELS = 16


def sq_range(corpus: DataFrame, vec_col: str = "embedding") -> tuple[float, float]:
    """Global (lo, hi) over every dimension — two driver scalars (the
    BM25-N/avgdl pattern: one tiny aggregate, reused per query)."""
    row = corpus.agg(
        F.min(F.array_min(vec_col)).cast("double").alias("lo"),
        F.max(F.array_max(vec_col)).cast("double").alias("hi"),
    ).first()
    if row is None or row["lo"] is None or row["hi"] is None:
        raise ValueError(
            "sq_range: empty corpus (or all-NULL vectors) — no value range"
        )
    lo, hi = float(row["lo"]), float(row["hi"])
    if not hi > lo:
        raise ValueError(f"degenerate value range [{lo}, {hi}]")
    return lo, hi


def sq_codes(vec: Column, lo: float, hi: float) -> Column:
    """4-bit code per dimension: clamp(floor((x-lo)/(hi-lo)·L), 0, L-1).

    One JVM-side ``transform`` over the vector — no Python, constant
    output bytes per vector (d·4 bits); the identical expression
    replays in DuckDB because lo/hi are order statistics of the same
    floats in both engines.
    """
    scale = F.lit(float(SQ_LEVELS))

    def code(x: Column) -> Column:
        raw = F.floor(
            (x.cast("double") - F.lit(lo)) / F.lit(hi - lo) * scale
        )
        return F.least(
            F.greatest(raw, F.lit(0)), F.lit(SQ_LEVELS - 1)
        ).cast("int")

    return F.transform(vec, code)


def sq_adc_topk(
    corpus: DataFrame,
    query: DataFrame,
    lo: float,
    hi: float,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized ANN with asymmetric distance computation: the corpus
    is read as its 4-bit codes only; the exact (1-row, broadcast)
    query scores each doc as Σ_i (q_i − dequant(code_i))², then a
    TakeOrdered heap keeps the top-k.

    The quantization-based third ANN family beside sign-LSH (hash)
    and IVF (partition) — deterministic grid codebooks make it
    oracle-checkable end-to-end where trained quantizers are
    rows-only. At 100 TB the corpus stores ONLY the codes (8× smaller
    than float32), the query side broadcasts, and nothing shuffles.
    """
    step = (hi - lo) / SQ_LEVELS
    coded = corpus.select(
        id_col, sq_codes(F.col(vec_col), lo, hi).alias("__codes")
    )
    joined = coded.join(
        F.broadcast(query.select(F.col("q").alias("__q")))
    )
    def diff(x: Column, c: Column) -> Column:
        return x.cast("double") - (
            F.lit(lo) + (c.cast("double") + F.lit(0.5)) * F.lit(step)
        )

    # d*d, not pow(d, 2): plain multiplication is the same IEEE op in
    # both engines, so the oracle replay is bit-identical
    terms = F.zip_with("__q", "__codes", lambda x, c: diff(x, c) * diff(x, c))
    adc = F.aggregate(
        terms, F.lit(0.0).cast("double"), lambda acc, t: acc + t
    )
    return (
        joined.select(id_col, F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), id_col)
        .limit(k)
    )


# ----------------------------------------------------------------------
# Product quantization (PQ-ADC + exact rerank): the fourth ANN family
# ----------------------------------------------------------------------
#: Subspaces (the vector dim must be >= PQ_M; dims split evenly with
#: the remainder on the last subspace).
PQ_M = 8
#: Codewords per subspace (a code is PQ_M small ints, log2(PQ_K) bits
#: each, per vector).
PQ_K = 16
#: Lloyd's iterations per subspace codebook.
PQ_ITERS = 2
#: ADC shortlist size ahead of the exact rerank.
PQ_SHORTLIST = 50


def l2_normalized(vec: Column) -> Column:
    """x / ||x|| with the zero-vector guard (an all-zero vector stays
    all-zero instead of NaN), so PQ's L2 geometry IS cosine geometry:
    for unit vectors ||q-x||^2 = 2 - 2*cos(q, x), monotone in cosine."""
    n = F.sqrt(dot(vec, vec))
    return F.when(
        n > 0,
        F.transform(vec, lambda x: x.cast("double") / n),
    ).otherwise(F.transform(vec, lambda x: F.lit(0.0)))


def _pq_bounds(d: int, m: int) -> list[tuple[int, int]]:
    """(offset, length) per subspace — even split, remainder on the
    last."""
    base = d // m
    bounds = []
    off = 0
    for mi in range(m):
        ln = base + (d - base * m if mi == m - 1 else 0)
        bounds.append((off, ln))
        off += ln
    return bounds


def _np_normalized(col, d: int) -> "object":
    """Batch → (n, d) float64 row-normalized matrix (zero rows stay
    zero). Malformed rows — None (ADVICE_r10) or WRONG-DIMENSION
    (r12 fuzz: np.stack raises 'all input arrays must have the same
    shape' on a ragged batch) — become zero-filled d-vectors: a
    vector with the wrong dimensionality has no valid code under
    d-dim codebooks, so it gets the engine-wide degenerate treatment
    (zero vector → guarded score, sinks in every ranking) instead of
    crashing the whole Arrow batch."""
    import numpy as np

    X = np.stack(
        [
            np.zeros(d, dtype="float64")
            if v is None or len(v) != d
            else np.asarray(v, dtype="float64")
            for v in col
        ]
    )
    norms = np.sqrt((X * X).sum(axis=1, keepdims=True))
    return np.divide(X, norms, out=np.zeros_like(X), where=norms > 0)


def pq_encode_udf(books: list[list[list[float]]], d: int):
    """Arrow-vectorized PQ encoder: one (n, k) distance matrix argmin
    per subspace over the whole batch — the documented slow-path
    escape (SURVEY §2.10): the codegen HOF form of this argmin is
    ~k x m fold chains PER ROW interpreted, while the numpy form is
    three BLAS-shaped array ops per subspace per BATCH. Ties go to
    the smaller code (np.argmin's first-minimum rule — the same
    lexicographic (dist, j) convention as the trained k-means
    tier)."""
    import numpy as np

    from pyspark.sql.types import ArrayType, IntegerType

    bounds = _pq_bounds(d, len(books))
    bks = [np.asarray(b, dtype="float64") for b in books]

    @pandas_udf(ArrayType(IntegerType()))
    def enc(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="object")
        X = _np_normalized(col, d)
        codes = np.empty((X.shape[0], len(bks)), dtype="int32")
        for mi, (off, ln) in enumerate(bounds):
            sub = X[:, off : off + ln]
            C = bks[mi]
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                - 2.0 * sub @ C.T
                + (C * C).sum(axis=1)[None, :]
            )
            codes[:, mi] = d2.argmin(axis=1)
        return pd.Series([list(map(int, row)) for row in codes])

    return enc


def pq_adc_udf(books: list[list[list[float]]], d: int):
    """Arrow-vectorized asymmetric distance: per row,
    sum_m ||q_m - c_{m, code_m}||^2 via fancy-indexed codebook gathers
    over the whole batch. The query column is normalized HERE with
    the same numpy expression as the encoder, so both sides of the
    asymmetric compare live in the identical unit-sphere geometry."""
    import numpy as np

    bounds = _pq_bounds(d, len(books))
    bks = [np.asarray(b, dtype="float64") for b in books]

    @pandas_udf(DoubleType())
    def adc(codes: pd.Series, q: pd.Series) -> pd.Series:
        if len(codes) == 0:
            return pd.Series([], dtype="float64")
        C = np.stack([np.asarray(c, dtype="int64") for c in codes])
        Q = _np_normalized(q, d)
        tot = np.zeros(C.shape[0], dtype="float64")
        for mi, (off, ln) in enumerate(bounds):
            diff = Q[:, off : off + ln] - bks[mi][C[:, mi]]
            tot += (diff * diff).sum(axis=1)
        return pd.Series(np.round(tot, 6))

    return adc


def pq_score_udf(books: list[list[list[float]]], d: int):
    """Fused encode→ADC in ONE Arrow stage (r15, guide §4.1): the
    pure-PQ serving path (q_knn_pq) computes codes on the fly only to
    score them in the very next Python stage, so the chain paid two
    ArrowEvalPython boundary crossings per row (vector out → codes in,
    codes out → distance in) plus each stage's fixed worker overhead.
    This body runs pq_encode_udf's numpy ops then pq_adc_udf's, in the
    same order on the same doubles — distances (and therefore the
    shortlist and the exact rerank) are bit-identical; only the stage
    count changes. Stored-code paths (IVF-PQ stage 1, GroupStore)
    keep the split UDFs: there the codes come from disk, not from a
    sibling stage."""
    import numpy as np

    bounds = _pq_bounds(d, len(books))
    bks = [np.asarray(b, dtype="float64") for b in books]

    @pandas_udf(DoubleType())
    def score(col: pd.Series, q: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="float64")
        X = _np_normalized(col, d)
        Q = _np_normalized(q, d)
        tot = np.zeros(X.shape[0], dtype="float64")
        for mi, (off, ln) in enumerate(bounds):
            sub = X[:, off : off + ln]
            C = bks[mi]
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                - 2.0 * sub @ C.T
                + (C * C).sum(axis=1)[None, :]
            )
            codes = d2.argmin(axis=1)
            diff = Q[:, off : off + ln] - C[codes]
            tot += (diff * diff).sum(axis=1)
        return pd.Series(np.round(tot, 6))

    return score


def pq_fit(
    corpus: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train the PQ codebooks: independent L2 Lloyd's per subspace
    over the NORMALIZED corpus, all m subspaces trained in the SAME
    distributed pass per iteration.

    Per iteration: (1) every row computes its m argmin codes via the
    Arrow-vectorized encoder (one numpy distance matrix per subspace
    per batch — no per-row Python); (2) one explode →
    (subspace, code, dim) partial+final hash aggregate — shuffle
    bounded by k x d groups, never by rows; (3) the k x d mean table
    collects to the driver (the ONLY driver-side data, same contract
    as kmeans_fit). Init is deterministic (the k lowest-id vectors'
    subvectors), so runs are reproducible; an emptied cell keeps its
    previous centroid (the standard Lloyd's dead-cell rule).

    Returns ``books[m][k] = centroid`` as plain Python floats — a
    model artifact the serving expressions close over."""
    row = corpus.select(F.size(vec_col).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError("pq_fit: empty corpus")
    d = int(row["d"])
    if d < m:
        raise ValueError(f"pq_fit: dim {d} < subspaces {m}")
    bounds = _pq_bounds(d, m)
    nf = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        l2_normalized(F.col(vec_col)).alias("__xn"),
    )
    seed_rows = nf.orderBy("__id").limit(k).collect()
    if not seed_rows:
        raise ValueError("pq_fit: empty corpus")
    books: list[list[list[float]]] = []
    for off, ln in bounds:
        cents = [
            [float(x) for x in r["__xn"][off : off + ln]]
            for r in seed_rows
        ]
        while len(cents) < k:  # tiny corpus: repeat the last seed
            cents.append(list(cents[-1]))
        books.append(cents)
    for _ in range(iters):
        enc = pq_encode_udf(books, d)
        stacked = (
            nf.withColumn("__codes", enc(F.col("__v")))
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(mi).alias("m"),
                                F.element_at("__codes", mi + 1).alias(
                                    "code"
                                ),
                                F.slice(
                                    F.col("__xn"), off + 1, ln
                                ).alias("sub"),
                            )
                            for mi, (off, ln) in enumerate(bounds)
                        ]
                    )
                ).alias("s")
            )
            .select(
                F.col("s.m").alias("m"),
                F.col("s.code").alias("code"),
                F.posexplode(F.col("s.sub")).alias("pos", "v"),
            )
        )
        cells = (
            stacked.groupBy("m", "code", "pos")
            .agg(F.avg("v").alias("mu"))
            .collect()
        )
        by_mc: dict[tuple[int, int], dict[int, float]] = {}
        for r in cells:
            by_mc.setdefault((r["m"], r["code"]), {})[r["pos"]] = r["mu"]
        for mi, (off, ln) in enumerate(bounds):
            for j in range(k):
                dims = by_mc.get((mi, j))
                if dims is not None:
                    books[mi][j] = [dims[p] for p in range(ln)]
    return books


def pq_adc_topk(
    corpus: DataFrame,
    query: DataFrame,
    books: list[list[list[float]]],
    d: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Pure PQ asymmetric-distance top-k: the corpus contributes ONLY
    its codes; the (1-row, broadcast, in-plan — no driver round-trip)
    query scores each row against the literal codebooks, and a
    TakeOrdered heap keeps the k best (ascending ADC distance, id
    tie-break).

    r15 (guide §4.1, VERDICT_r14 #6): encode and ADC run FUSED in one
    Arrow stage (:func:`pq_score_udf`) — the on-the-fly-codes path
    paid two chained ArrowEvalPython stages (vector→codes, codes→
    distance) where one suffices. Same numpy ops in the same order,
    so distances (hence shortlist and exact rerank) are bit-identical;
    interleaved same-JVM A/B at sf0.1: med 1.000 → 0.689 s, results
    collect-identical at all three SFs. Stored-code paths (IVF-PQ
    stage 1) keep the split ADC — their codes come from disk."""
    score = pq_score_udf(books, d)
    joined = corpus.select(id_col, vec_col).join(
        F.broadcast(query.select(F.col("q")))
    )
    return (
        joined.select(
            id_col,
            score(F.col(vec_col), F.col("q")).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), id_col)
        .limit(k)
    )


def pq_topk_rerank(
    corpus: DataFrame,
    query: DataFrame,
    books: list[list[list[float]]],
    d: int,
    k: int = 10,
    shortlist: int = PQ_SHORTLIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production IVFADC-with-rerank shape: PQ ADC picks a
    ``shortlist``-sized candidate set from codes alone, then the raw
    vectors of ONLY those candidates are read back for an exact
    cosine top-k. Quantization error bounds the shortlist's recall,
    not the final ranking's precision — the standard two-stage
    ANN-serving layout.

    At 100 TB: stage 1 scans m*log2(k) bits per vector (64x smaller
    than float32 at the defaults) into a heap; stage 2 is a
    broadcast semi-join fetching ``shortlist`` raw vectors. Output
    matches :func:`knn_topk` (vec_id, score) so recall evaluations
    compose."""
    short = pq_adc_topk(
        corpus, query, books, d, k=shortlist, id_col=id_col,
        vec_col=vec_col,
    )
    cand = corpus.join(
        F.broadcast(short.select(id_col)), id_col, "left_semi"
    )
    return knn_topk(cand, query, k=k, id_col=id_col, vec_col=vec_col)


def write_ivfpq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    books: list[list[list[float]]],
    d: int,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the CLASSIC IVF-PQ index: every vector stored
    under its assigned coarse cell (``partitionBy("centroid_id")`` —
    probing prunes whole directories) with its PQ code array beside
    the raw vector. Serving reads the codes column only (parquet
    column pruning) for stage 1 and comes back for ``shortlist`` raw
    vectors in stage 2 — the layout FAISS calls IVFADC, expressed as
    a partitioned+pruned parquet table."""
    enc = pq_encode_udf(books, d)
    assigned = assign_centroids(corpus, centroids, id_col, vec_col)
    (
        assigned.select(
            id_col,
            vec_col,
            enc(F.col(vec_col)).alias("pq_codes"),
            "centroid_id",
        )
        .write.partitionBy("centroid_id")
        .mode("overwrite")
        .parquet(path)
    )


def ivfpq_topk(
    spark,
    index_path: str,
    centroids: DataFrame,
    query: DataFrame,
    books: list[list[list[float]]],
    d: int,
    k: int = 10,
    nprobe: int = 3,
    shortlist: int = PQ_SHORTLIST,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search against a materialized index (see
    :func:`write_ivfpq_index`): coarse probe → ADC over codes →
    exact rerank.

    (1) the ≤n-centroids probe picks the ``nprobe`` best cells
    driver-side and applies them as a literal ``isin`` on the
    partition column — PartitionFilters prune unprobed cells before
    any I/O; (2) stage 1 reads ONLY (id, pq_codes) from the probed
    cells (parquet column pruning — the raw vector column never
    leaves disk) and heaps the ``shortlist`` best ADC rows; (3)
    stage 2 fetches the raw vectors of exactly those rows from the
    same pruned cells for the exact cosine top-k. At 100 TB the I/O
    is nprobe/n_cells of the corpus at m·log2(k) bits per vector
    plus ``shortlist`` full vectors — the full IVFADC economics."""
    probed = (
        centroids.join(F.broadcast(query))
        .select(
            "centroid_id", cosine(F.col("cvec"), F.col("q")).alias("cscore")
        )
        .orderBy(F.col("cscore").desc(), F.col("centroid_id"))
        .limit(nprobe)
        .collect()
    )
    cells = [r["centroid_id"] for r in probed]
    pruned = spark.read.parquet(index_path).filter(
        F.col("centroid_id").isin(cells)
    )
    adc = pq_adc_udf(books, d)
    qn = query.select(F.col("q"))
    short = (
        pruned.select(id_col, "pq_codes")
        .join(F.broadcast(qn))
        .select(
            id_col, adc(F.col("pq_codes"), F.col("q")).alias("adc_dist")
        )
        .orderBy(F.col("adc_dist").asc(), id_col)
        .limit(shortlist)
    )
    cand = pruned.join(
        F.broadcast(short.select(id_col)), id_col, "left_semi"
    )
    return knn_topk(cand, query, k=k, id_col=id_col, vec_col=vec_col)


class VectorLshIndex(BatchStore):
    """Persistent sign-LSH vector index for INCREMENTAL semantic dedup
    — the embedding twin of the text tier's ``dedup.LshIndex`` (L12).

    A growing corpus embeds each crawl increment and asks "is this
    vector semantically redundant against everything seen so far?"
    without recomputing history. The index stores one
    ``(vec_id, sig, embedding)`` row per vector as parquet, one
    partition per ingested batch; each new batch
    joins ONLY its sign-LSH buckets (never all-pairs) against history
    + itself and re-scores candidates with exact cosine.

    Decision rule is the same min-id dominance as the batch
    ``semantic_dedup`` (a vector is redundant iff a smaller-id vector
    in its bucket clears the cosine threshold), and the index stores
    dropped vectors too — dominators need not be keepers — so when
    vec_ids arrive in monotone batches (crawl-ingest semantics) the
    streamed keep-set equals the batch run over the union EXACTLY
    (asserted in tests). Decisions are emit-once: a smaller-id vector
    arriving AFTER a larger one (non-monotone ingest) can no longer
    revoke the earlier keep.

    Crash consistency mirrors LshIndex: decisions are computed before
    the write (storage contract: ``store.py``), so a retried batch
    converges instead of double-ingesting.
    """

    SCHEMA = "vec_id long, sig int, embedding array<double>"

    def __init__(
        self,
        spark,
        path: str,
        threshold: float = SEMANTIC_THRESHOLD,
        n_bits: int = 6,
    ) -> None:
        super().__init__(spark, path)
        self.threshold = threshold
        self.n_bits = n_bits

    def add_batch(
        self,
        batch: DataFrame,
        batch_id: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Ingest one batch; returns its decisions (vec_id, sig, kept).

        The returned frame is materialized (localCheckpoint) BEFORE the
        index write, so callers may write it after ``add_batch``
        returns without re-reading an index that now contains the
        batch itself.
        """
        from ..state import persist

        part = batch_partition_dir(self.path, batch_id)
        new = persist(
            batch.select(
                F.col(id_col).cast("long").alias("vec_id"),
                hyperplane_sig(F.col(vec_col), self.n_bits).alias("sig"),
                F.col(vec_col).cast("array<double>").alias("embedding"),
            )
        )
        sides = [
            new.select(
                F.col("vec_id").alias("__ida"),
                "sig",
                F.col("embedding").alias("__va"),
            )
        ]
        if self._batches():
            hist = self._merged(self.SCHEMA)
            sides.append(
                hist.select(
                    F.col("vec_id").alias("__ida"),
                    "sig",
                    F.col("embedding").alias("__va"),
                )
            )
        dominators = sides[0] if len(sides) == 1 else sides[0].unionByName(
            sides[1]
        )
        redundant = (
            dominators.join(
                new.select(
                    F.col("vec_id").alias("__idb"),
                    "sig",
                    F.col("embedding").alias("__vb"),
                ),
                "sig",
            )
            .filter(F.col("__ida") < F.col("__idb"))
            .filter(
                cosine(F.col("__va"), F.col("__vb"))
                >= F.lit(self.threshold)
            )
            .select(F.col("__idb").alias("vec_id"))
            .distinct()
            .withColumn("__dup", F.lit(True))
        )
        decisions = (
            new.join(redundant, "vec_id", "left")
            .select(
                "vec_id",
                "sig",
                (~F.coalesce(F.col("__dup"), F.lit(False))).alias("kept"),
            )
            .localCheckpoint(eager=True)
        )
        self._overwrite(new.select("vec_id", "sig", "embedding"), part)
        new.unpersist()
        return decisions


class IvfIndex(BatchStore):
    """Persistent incremental IVF index — the TRAINED ANN family's
    incremental form, completing the story the hash family's
    ``VectorLshIndex`` and the text tier's ``dedup.LshIndex`` tell:
    every index in this engine grows batch-by-batch without
    recomputing history.

    Centroids are trained once (``kmeans_fit``) and then FIXED — the
    production pattern: assignment of each new crawl batch is a
    broadcast join against the frozen centroid table, and the batch's
    vectors land in ``centroid_id=<cell>`` directories inside the
    batch's partition. Search prunes on ``centroid_id`` exactly like
    ``ivf_topk_indexed`` (partition pruning applies to any level of
    the directory layout), so probing still reads only nprobe cells
    of EVERY batch. Retrain-and-rebuild when drift accumulates is a
    new index directory, not an in-place surgery. Storage contract:
    ``store.py``.
    """

    def __init__(self, spark, path: str, centroids: DataFrame) -> None:
        super().__init__(spark, path)
        self.centroids = centroids

    def add_batch(
        self,
        batch: DataFrame,
        batch_id: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> int:
        """Assign a batch to the frozen centroids and append it as its
        own idempotent partition directory. Returns rows written."""
        assigned = assign_centroids(
            batch.select(
                F.col(id_col).cast("long").alias("vec_id"),
                F.col(vec_col).cast("array<double>").alias("embedding"),
            ),
            self.centroids,
            "vec_id",
            "embedding",
        ).select("vec_id", "embedding", "centroid_id")
        return self._write(assigned, batch_id, partition_by="centroid_id")

    def search(
        self, query: DataFrame, k: int = 10, nprobe: int = 3
    ) -> DataFrame:
        """Top-k over every ingested batch, reading only the nprobe
        probed cells (PartitionFilters on centroid_id across all
        batch directories)."""
        stored = self._merged()
        probed = (
            self.centroids.join(F.broadcast(query))
            .select(
                "centroid_id",
                cosine(F.col("cvec"), F.col("q")).alias("cscore"),
            )
            .orderBy(F.col("cscore").desc(), F.col("centroid_id"))
            .limit(nprobe)
            .collect()
        )
        cells = [r["centroid_id"] for r in probed]
        candidates = stored.filter(F.col("centroid_id").isin(cells))
        return knn_topk(candidates, query, k, "vec_id", "embedding")


class IvfPqStore(BatchStore):
    """Persistent incremental IVF-PQ serving index — the store-family
    treatment for the flagship ANN layout (VERDICT_r10 #3), closing
    the train-once/serve-growing story: ``write_ivfpq_index`` rebuilds
    the whole table per corpus fingerprint, while this store encodes
    each NEW batch under FROZEN coarse cells + FROZEN codebooks and
    appends it as its own idempotent batch partition — ingest is
    embarrassingly parallel (one broadcast assignment + one
    Arrow-batched ``pq_encode_udf`` pass over the batch, no history
    read, no shuffle beyond the batch itself).

    Layout per batch: ``centroid_id=<cell>`` directories with
    columns ``(vec_id, embedding, pq_codes)`` — the same row shape as
    the rebuilt index, so :meth:`search` is plan-for-plan the
    ``ivfpq_topk`` IVFADC probe over the union of all batches:
    PartitionFilters prune unprobed cells across every batch
    directory, stage 1 reads ONLY (vec_id, pq_codes) from probed
    cells (parquet column pruning — raw vectors never leave disk),
    stage 2 fetches ``shortlist`` raw vectors for the exact rerank.
    On doc-disjoint ingest the probe result is IDENTICAL to a
    from-scratch ``write_ivfpq_index`` over the union (asserted in
    tests) because assignment and encoding are per-row pure functions
    of the frozen model.

    Storage, replay and overlap contract: ``store.py``. Batches must
    be doc-disjoint (vec_id is the serving identity; an overlapping
    re-ingest under a NEW batch_id duplicates rows). Retrain-and-
    rebuild when codebook drift accumulates is a new index directory,
    never in-place surgery.
    """

    def __init__(
        self,
        spark,
        path: str,
        centroids: DataFrame,
        books: list[list[list[float]]],
        d: int,
    ) -> None:
        super().__init__(spark, path)
        self.centroids = centroids
        self.books = books
        self.d = d

    def add_batch(
        self,
        batch: DataFrame,
        batch_id: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        assert_disjoint: bool = False,
    ) -> int:
        """Assign + PQ-encode a batch against the frozen model and
        append it as its own idempotent partition directory. Returns
        rows written.

        ``assert_disjoint=True`` runs the store's overlap check
        (``BatchStore._assert_disjoint``) on the incoming
        vec_ids before writing. Off by default: the check scans
        history, which the upstream manifest contract makes
        redundant."""
        if assert_disjoint:
            self._assert_disjoint(
                batch.select(F.col(id_col).cast("long").alias("vec_id")),
                batch_id,
                "vec_id",
            )
        enc = pq_encode_udf(self.books, self.d)
        assigned = assign_centroids(
            batch.select(
                F.col(id_col).cast("long").alias("vec_id"),
                F.col(vec_col).cast("array<double>").alias("embedding"),
            ),
            self.centroids,
            "vec_id",
            "embedding",
        ).select(
            "vec_id",
            "embedding",
            enc(F.col("embedding")).alias("pq_codes"),
            "centroid_id",
        )
        return self._write(assigned, batch_id, partition_by="centroid_id")

    def search(
        self,
        query: DataFrame,
        k: int = 10,
        nprobe: int = 3,
        shortlist: int = PQ_SHORTLIST,
    ) -> DataFrame:
        """IVFADC top-k over every ingested batch: coarse probe →
        codes-only ADC shortlist → exact rerank, all reads pruned to
        the nprobe probed cells of each batch directory.

        Raises the store-family typed error on an empty store
        (ADVICE_r11 #2) instead of surfacing a raw AnalysisException
        from the parquet read."""
        stored = self._merged()
        probed = (
            self.centroids.join(F.broadcast(query))
            .select(
                "centroid_id",
                cosine(F.col("cvec"), F.col("q")).alias("cscore"),
            )
            .orderBy(F.col("cscore").desc(), F.col("centroid_id"))
            .limit(nprobe)
            .collect()
        )
        cells = [r["centroid_id"] for r in probed]
        pruned = stored.filter(F.col("centroid_id").isin(cells))
        adc = pq_adc_udf(self.books, self.d)
        qn = query.select(F.col("q"))
        short = (
            pruned.select("vec_id", "pq_codes")
            .join(F.broadcast(qn))
            .select(
                "vec_id",
                adc(F.col("pq_codes"), F.col("q")).alias("adc_dist"),
            )
            .orderBy(F.col("adc_dist").asc(), "vec_id")
            .limit(shortlist)
        )
        cand = pruned.join(
            F.broadcast(short.select("vec_id")), "vec_id", "left_semi"
        )
        return knn_topk(cand, query, k=k, id_col="vec_id", vec_col="embedding")


def write_mrl_index(
    corpus: DataFrame,
    prefix_len: int,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the Matryoshka serving layout: the stage-1 prefix
    stored as its OWN parquet column beside the full vector, so the
    shortlist scan reads prefix_len/d of the float payload via plain
    parquet column pruning (the at-rest form q_knn_matryoshka's
    in-plan ``slice()`` stands in for; asserted in pytest like the
    IVF-PQ codes-only claim)."""
    (
        corpus.select(
            id_col,
            vec_col,
            F.slice(F.col(vec_col), 1, prefix_len).alias("prefix"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )


def _mrl_probe(
    idx: DataFrame,
    query: DataFrame,
    prefix_len: int,
    k: int,
    shortlist: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The two-stage Matryoshka probe over a materialized (id, vec,
    prefix) frame — shared by :func:`mrl_topk_indexed` and
    :class:`MrlStore.search` so the rebuilt-index and the incremental
    store can never drift: stage 1 touches ONLY (id, prefix), heaps
    the ``shortlist`` best prefix-cosine rows (zero/NULL-prefix guard
    −1.0, the engine-wide convention), stage 2 fetches the full
    vectors of exactly those rows for the exact top-k."""
    pq_ = F.slice(F.col("q"), 1, prefix_len)
    ps = F.when(
        (dot(F.col("prefix"), F.col("prefix")) > 0) & (dot(pq_, pq_) > 0),
        cosine(F.col("prefix"), pq_),
    ).otherwise(F.lit(-1.0))
    short = (
        idx.select(id_col, "prefix")
        .join(F.broadcast(query))
        .select(id_col, ps.alias("__ps"))
        .orderBy(F.col("__ps").desc(), id_col)
        .limit(shortlist)
        .select(id_col)
    )
    cand = idx.select(id_col, vec_col).join(
        F.broadcast(short), id_col, "left_semi"
    )
    return knn_topk(cand, query, k=k, id_col=id_col, vec_col=vec_col)


def mrl_topk_indexed(
    spark,
    index_path: str,
    query: DataFrame,
    prefix_len: int,
    k: int = 10,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka search against a materialized index (see
    :func:`write_mrl_index`): stage 1 reads ONLY (id, prefix) —
    parquet column pruning keeps the full vectors on disk — and
    stage 2 fetches the shortlist's full vectors for the exact top-k
    (the shared :func:`_mrl_probe`)."""
    idx = spark.read.parquet(index_path)
    return _mrl_probe(
        idx, query, prefix_len, k, shortlist, id_col, vec_col
    )


class MrlStore(BatchStore):
    """Persistent incremental Matryoshka serving index (VERDICT_r11
    #4), closing the serve-growing story for the last materialized
    index without one: ``write_mrl_index`` rebuilds the whole
    (vec_id, embedding, prefix) table, while this store appends each
    NEW batch as its own idempotent batch partition. The prefix
    projection is a PURE per-row function
    (``slice(embedding, 1, prefix_len)``) — no trained state to
    freeze, so ingest is the IvfPqStore shape minus training: one
    codegen projection over the batch, no history read, no shuffle
    at all.

    :meth:`search` is the exact :func:`_mrl_probe` over the union of
    all batches — stage 1 reads ONLY (vec_id, prefix) via parquet
    column pruning (full vectors never leave disk until the
    ``shortlist``-row rerank), identical to a from-scratch
    ``write_mrl_index`` over the same rows (asserted in tests,
    row-for-row) because the projection is deterministic per row.

    Storage, replay and overlap contract: ``store.py``. Batches must
    be doc-disjoint (vec_id is the serving identity; an overlapping
    re-ingest under a NEW batch_id duplicates rows);
    ``assert_disjoint=`` is the debug knob, same as IvfPqStore."""

    def __init__(self, spark, path: str, prefix_len: int) -> None:
        super().__init__(spark, path)
        self.prefix_len = prefix_len

    def add_batch(
        self,
        batch: DataFrame,
        batch_id: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        assert_disjoint: bool = False,
    ) -> int:
        """Project the batch's prefix column and append it as its own
        idempotent partition directory. Returns rows written."""
        if assert_disjoint:
            self._assert_disjoint(
                batch.select(F.col(id_col).cast("long").alias("vec_id")),
                batch_id,
                "vec_id",
            )
        projected = batch.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
            F.slice(
                F.col(vec_col).cast("array<double>"), 1, self.prefix_len
            ).alias("prefix"),
        )
        return self._write(projected, batch_id)

    def search(
        self,
        query: DataFrame,
        k: int = 10,
        shortlist: int = 100,
    ) -> DataFrame:
        """Matryoshka top-k over every ingested batch (the shared
        :func:`_mrl_probe`); stage 1 stays prefix-only across all
        batch directories. Raises the store-family typed error on an
        empty store."""
        return _mrl_probe(
            self._merged(), query, self.prefix_len, k, shortlist,
            "vec_id", "embedding",
        )
