"""Trained-model tier (L34/L34'/L35): three-way training parity
(Spark == DuckDB chained-CTE replay == pure-Python reference, all
BIT-IDENTICAL — the L32 BPE test pattern), learning-quality floors,
and the determinism devices (clamps, quantization) under adversarial
magnitudes."""

from __future__ import annotations

import math

import duckdb
import pytest

from vsphere_event_streaming_spark.functions.classifier import (
    G_CLAMP,
    MICRO,
    Z_CLAMP,
    gram_micro,
    logreg_oracle,
    pca_oracle,
    power_iteration,
    train_logreg,
    train_logreg_reference,
)
from vsphere_event_streaming_spark.queries.model_queries import (
    LOGREG_ITERS,
    LOGREG_LR,
    POS_WEIGHT,
    PCA_ITERS,
)

SF_DIR = "/root/testdata/sf0.001"
EMB = f"{SF_DIR}/embeddings.parquet"


def _rows():
    con = duckdb.connect()
    out = con.sql(
        f"SELECT embedding, label FROM '{EMB}' ORDER BY vec_id"
    ).fetchall()
    con.close()
    return [(list(v), lab) for v, lab in out]


def _duck_weights(iters, lr_num, lr_den, pos_weight):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{EMB}'")
    got = dict(
        con.sql(
            logreg_oracle(
                iters=iters,
                lr_num=lr_num,
                lr_den=lr_den,
                pos_weight=pos_weight,
            )
            + f"SELECT dim, wi FROM w{iters}"
        ).fetchall()
    )
    con.close()
    return [got[i + 1] for i in range(len(got))]


def test_logreg_three_way_training_parity(spark):
    """Spark training, the DuckDB chained-CTE replay, and the pure
    Python reference must produce bit-identical micro-unit weights at
    the declared hyperparameters."""
    emb = spark.read.parquet(EMB)
    kw = dict(
        iters=LOGREG_ITERS,
        lr_num=LOGREG_LR[0],
        lr_den=LOGREG_LR[1],
        pos_weight=POS_WEIGHT,
    )
    w_spark = train_logreg(emb, **kw)
    w_py = train_logreg_reference(_rows(), **kw)
    w_duck = _duck_weights(**kw)
    assert w_spark == w_py == w_duck
    assert any(w != 0 for w in w_spark)  # it actually moved


def test_logreg_training_reduces_loss():
    """Squared-residual loss after training must be below the
    zero-weight starting point (the all-0.5 predictor) — the model
    demonstrably learns on the driver corpus."""
    rows = _rows()
    w = train_logreg_reference(
        rows,
        iters=LOGREG_ITERS,
        lr_num=LOGREG_LR[0],
        lr_den=LOGREG_LR[1],
        pos_weight=POS_WEIGHT,
    )
    wf = [wi / MICRO for wi in w]

    def sigmoid(z):
        zc = max(-Z_CLAMP, min(Z_CLAMP, z))
        return 0.5 + zc / (2.0 * (1.0 + abs(zc)))

    def loss(weights):
        tot = 0.0
        for v, lab in rows:
            x = list(v) + [1.0]
            y = 1.0 if lab == 0 else 0.0
            p = sigmoid(sum(a * b for a, b in zip(x, weights)))
            tot += (p - y) ** 2
        return tot / len(rows)

    assert loss(wf) < loss([0.0] * len(wf))


def test_logreg_ranks_positive_class_higher():
    """AUC of the trained scores vs the (label == 0) target must beat
    chance by a wide margin — the filter actually separates."""
    rows = _rows()
    w = train_logreg_reference(
        rows,
        iters=LOGREG_ITERS,
        lr_num=LOGREG_LR[0],
        lr_den=LOGREG_LR[1],
        pos_weight=POS_WEIGHT,
    )
    wf = [wi / MICRO for wi in w]

    def sigmoid(z):
        zc = max(-Z_CLAMP, min(Z_CLAMP, z))
        return 0.5 + zc / (2.0 * (1.0 + abs(zc)))

    scored = sorted(
        (
            sigmoid(sum(a * b for a, b in zip(list(v) + [1.0], wf))),
            1 if lab == 0 else 0,
        )
        for v, lab in rows
    )
    n1 = sum(y for _, y in scored)
    n0 = len(scored) - n1
    rank_sum = sum(i for i, (_, y) in enumerate(scored, 1) if y)
    auc = (rank_sum - n1 * (n1 + 1) / 2) / (n1 * n0)
    assert auc > 0.7, auc


def test_logreg_adversarial_magnitudes_stay_deterministic(spark):
    """1e12-magnitude and 1e-12 vectors (the fuzz classes): the clamps
    must keep every quantized gradient finite and in-range, and Spark
    must still match the pure-Python reference bit-for-bit."""
    rows = [
        ([1e12, -1e12, 3.5, 0.0], 0),
        ([1e-12, 2e-12, -1.0, 1e12], 1),
        ([0.0, 0.0, 0.0, 0.0], 2),
        ([-5.0, 4.0, 1e12, -2.0], 0),
        ([1.0, 1.0, 1.0, 1.0], None),
    ]
    df = spark.createDataFrame(
        [(i, v, lab) for i, (v, lab) in enumerate(rows)],
        "vec_id long, embedding array<float>, label int",
    )
    kw = dict(iters=5, lr_num=3, lr_den=1, pos_weight=9)
    w_spark = train_logreg(df, **kw)
    # float32 storage rounds the values; replay via the same parquet
    # dtype path the reference uses
    f32 = [
        ([float(x) for x in r["embedding"]], r["label"])
        for r in df.orderBy("vec_id").collect()
    ]
    w_py = train_logreg_reference(f32, **kw)
    assert w_spark == w_py
    assert all(abs(x) < 2**62 for x in w_spark)


def test_logreg_warmstart_continuation_parity(spark):
    """The incremental cadence (VERDICT-documented boundary, realized):
    continuing K iterations from a K-iteration checkpoint must be
    BIT-IDENTICAL to 2K from scratch — in all three engines, the
    warm-started DuckDB replay included (w0 = checkpoint VALUES)."""
    emb = spark.read.parquet(EMB)
    kw = dict(lr_num=LOGREG_LR[0], lr_den=LOGREG_LR[1], pos_weight=POS_WEIGHT)
    half = LOGREG_ITERS // 2
    w_ckpt = train_logreg(emb, iters=half, **kw)
    w_cont = train_logreg(emb, iters=half, init_w_micro=w_ckpt, **kw)
    w_full = train_logreg(emb, iters=LOGREG_ITERS, **kw)
    assert w_cont == w_full
    # pure-Python continuation
    rows = _rows()
    assert (
        train_logreg_reference(
            rows, iters=half, init_w_micro=w_ckpt, **kw
        )
        == w_full
    )
    # DuckDB replay of the warm-started run
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{EMB}'")
    got = dict(
        con.sql(
            logreg_oracle(
                iters=half,
                lr_num=kw["lr_num"],
                lr_den=kw["lr_den"],
                pos_weight=kw["pos_weight"],
                init_w_micro=w_ckpt,
            )
            + f"SELECT dim, wi FROM w{half}"
        ).fetchall()
    )
    con.close()
    assert [got[i + 1] for i in range(len(got))] == w_full


def test_logreg_warmstart_dim_mismatch_raises(spark):
    emb = spark.read.parquet(EMB)
    with pytest.raises(ValueError, match="init_w_micro"):
        train_logreg(emb, iters=1, init_w_micro=[0, 0, 0])


def test_logreg_empty_table_raises(spark):
    df = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    with pytest.raises(ValueError, match="empty"):
        train_logreg(df)


def test_pca_three_way_parity(spark):
    """Gram + power iteration: Spark == DuckDB replay == pure Python,
    bit-identical component."""
    emb = spark.read.parquet(EMB)
    g_spark = gram_micro(emb)
    rows = _rows()
    xs = [
        [max(-G_CLAMP, min(G_CLAMP, float(x))) for x in v]
        for v, _ in rows
    ]
    d = len(xs[0])
    g_py: dict[tuple[int, int], int] = {}
    for x in xs:
        for i in range(d):
            for j in range(d):
                g_py[(i, j)] = g_py.get((i, j), 0) + math.floor(
                    x[i] * x[j] * MICRO
                )
    assert g_spark == g_py
    v_py = power_iteration(g_py, d, iters=PCA_ITERS)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{EMB}'")
    v_duck = con.sql(
        pca_oracle(iters=PCA_ITERS) + f"SELECT v FROM v{PCA_ITERS}"
    ).fetchall()[0][0]
    con.close()
    assert v_py == list(v_duck)
    # unit norm (within float tolerance) and a dominant direction
    nrm = math.sqrt(sum(x * x for x in v_py))
    assert abs(nrm - 1.0) < 1e-9


def test_pca_component_dominates_random_direction():
    """The trained component must capture more variance than the
    all-ones direction — power iteration actually converged toward
    the top eigenvector."""
    rows = _rows()
    xs = [
        [max(-G_CLAMP, min(G_CLAMP, float(x))) for x in v]
        for v, _ in rows
    ]
    d = len(xs[0])
    g: dict[tuple[int, int], int] = {}
    for x in xs:
        for i in range(d):
            for j in range(d):
                g[(i, j)] = g.get((i, j), 0) + math.floor(
                    x[i] * x[j] * MICRO
                )
    v = power_iteration(g, d, iters=PCA_ITERS)

    def quad(u):
        nrm = math.sqrt(sum(x * x for x in u))
        un = [x / nrm for x in u]
        return sum(
            g.get((i, j), 0) * un[i] * un[j]
            for i in range(d)
            for j in range(d)
        )

    assert quad(v) > quad([1.0] * d)


def test_power_iteration_degenerate_zero_gram():
    assert power_iteration({}, 0) == []
    assert power_iteration({(i, j): 0 for i in range(3) for j in range(3)}, 3) == [
        0.0,
        0.0,
        0.0,
    ]


def test_gram_store_incremental_equals_from_scratch(spark, tmp_path):
    """Batch-split Gram ingest must train the BIT-IDENTICAL component
    to a from-scratch run over the union (cell additivity), and a
    replayed batch must overwrite, not double-count."""
    from vsphere_event_streaming_spark.functions.classifier import (
        GramStore,
        gram_micro,
    )

    emb = spark.read.parquet(EMB)
    store = GramStore(spark, str(tmp_path / "gram"))
    for b in range(3):
        store.add_batch(
            emb.filter((emb.vec_id % 3) == b).select("embedding"),
            f"b{b}",
        )
    # replay batch 1 (crash-retry): idempotent partition overwrite
    store.add_batch(
        emb.filter((emb.vec_id % 3) == 1).select("embedding"), "b1"
    )
    assert store.gram() == gram_micro(emb)
    d = len(_rows()[0][0])
    assert store.train(iters=PCA_ITERS) == power_iteration(
        gram_micro(emb), d, iters=PCA_ITERS
    )


def test_gram_store_empty_raises(spark, tmp_path):
    from vsphere_event_streaming_spark.functions.classifier import GramStore

    with pytest.raises(ValueError, match="no ingested batches"):
        GramStore(spark, str(tmp_path / "nope")).gram()


def test_gram_store_format_marker_guards_cell_format(spark, tmp_path):
    """ADVICE r8: the upper-triangle cell format is part of the
    store's identity. (1) a fresh ingest writes the _FORMAT marker
    (after the batch, never before); (2) a store with batch
    partitions but NO marker — a pre-ut1 full-matrix store — is
    refused at open AND at merge; (3) a marker with a foreign tag is
    refused; (4) a marker-only crash remnant gets the typed
    no-batches error, not an opaque read failure."""
    import os

    from vsphere_event_streaming_spark.functions.classifier import (
        GramStore,
    )

    emb = spark.read.parquet(EMB).limit(20).select("embedding")
    path = str(tmp_path / "gram_fmt")
    store = GramStore(spark, path)
    store.add_batch(emb, "b0")
    marker = os.path.join(path, GramStore.FORMAT_FILE)
    assert open(marker).read().strip() == GramStore.FORMAT
    assert store.gram()  # clean path still merges

    # (2) pre-ut1 store: partitions present, marker absent
    os.remove(marker)
    with pytest.raises(ValueError, match="full-matrix"):
        GramStore(spark, path)
    with pytest.raises(ValueError, match="full-matrix"):
        store.gram()
    with pytest.raises(ValueError, match="full-matrix"):
        store.add_batch(emb, "b1")

    # (3) foreign format tag
    with open(marker, "w") as fh:
        fh.write("full0")
    with pytest.raises(ValueError, match="cell format"):
        GramStore(spark, path)

    # (4) marker-only directory (crash between mkdir and first write)
    p2 = str(tmp_path / "gram_marker_only")
    os.makedirs(p2)
    with open(os.path.join(p2, GramStore.FORMAT_FILE), "w") as fh:
        fh.write(GramStore.FORMAT)
    with pytest.raises(ValueError, match="no ingested batches"):
        GramStore(spark, p2).gram()


def test_gram_store_rejects_hostile_batch_id(spark, tmp_path):
    from vsphere_event_streaming_spark.functions.classifier import GramStore

    emb = spark.read.parquet(EMB).limit(5)
    with pytest.raises(ValueError, match="filesystem-safe"):
        GramStore(spark, str(tmp_path / "g")).add_batch(emb, "../esc")


def test_auc_rank_sum_equals_pairwise_definition(spark):
    """q_classifier_auc's doubled concordant-pair integer must equal
    the O(n²) pairwise AUC definition (full credit for p_pos > p_neg,
    half for ties) — validated on the sf0.001 scores where n² is
    affordable. Guards the cumulative-window rank-sum rewrite."""
    from vsphere_event_streaming_spark.queries import model_queries as mq

    row = mq.q_classifier_auc(spark, SF_DIR).first()
    sc = mq._scored(spark, SF_DIR).select("y", "p").collect()
    pos = [r["p"] for r in sc if r["y"] == 1.0]
    neg = [r["p"] for r in sc if r["y"] == 0.0]
    num2 = sum(
        2 if pp > pn else (1 if pp == pn else 0)
        for pp in pos
        for pn in neg
    )
    assert row["n_pos"] == len(pos) and row["n_neg"] == len(neg)
    assert row["auc_num2"] == num2
    assert row["auc"] == round(num2 / (2.0 * len(pos) * len(neg)), 6)
    assert 0.5 < row["auc"] <= 1.0  # the trained model actually ranks


def test_calibration_bins_partition_the_corpus(spark):
    """Calibration cells must partition every scored row exactly once,
    and each bin's micro-quantized score sum must sit inside the bin's
    [bin/10, (bin+1)/10) interval scaled by its row count."""
    from vsphere_event_streaming_spark.queries import model_queries as mq

    rows = mq.q_classifier_calibration(spark, SF_DIR).collect()
    n_total = sum(r["n"] for r in rows)
    assert n_total == mq._scored(spark, SF_DIR).count()
    assert len({r["bin"] for r in rows}) == len(rows)
    for r in rows:
        assert 0 <= r["bin"] <= 9
        assert 0 <= r["pos"] <= r["n"]
        lo = r["bin"] / 10.0 * MICRO * r["n"]
        hi = (r["bin"] + 1) / 10.0 * MICRO * r["n"]
        assert lo - r["n"] <= r["sum_p_micro"] < hi


def test_oracle_weight_update_division_exact_above_2_53():
    """The logreg oracle's weight update must use exact integer floor
    division: the former float path (floor(HUGEINT/DOUBLE)) rounds the
    numerator before dividing and is verifiably wrong at 2^53+1 —
    the gradient-sum magnitude a ~3e6-row worst-case corpus reaches
    (per-row cap G_CLAMP*MICRO = 1e12 micro-units... at lr_num=3)."""
    con = duckdb.connect()
    for num, den in [
        (2**53 + 1, 3),
        (-(2**53 + 1), 3),
        (-7, 2),
        (7, 2),
        (2**60 + 7, 12),
    ]:
        got = con.sql(
            f"SELECT CAST({num} AS HUGEINT) // {den}"
            f" - CASE WHEN CAST({num} AS HUGEINT) % {den} <> 0"
            f" AND CAST({num} AS HUGEINT) < 0 THEN 1 ELSE 0 END"
        ).fetchone()[0]
        assert int(got) == num // den, (num, den)
    # and the OLD float path really is wrong there (regression lock)
    bad = con.sql(
        f"SELECT CAST(floor(CAST({2**53 + 1} AS HUGEINT) / 3.0)"
        " AS BIGINT)"
    ).fetchone()[0]
    assert int(bad) != (2**53 + 1) // 3
    con.close()


def test_pca_second_component_three_way_parity_and_orthogonal(spark):
    """The deflated+re-orthogonalized second component must be
    bit-identical between the Python trainer and the DuckDB replay,
    orthogonal to v1 at machine epsilon (the Gram-Schmidt step makes
    this exact by construction), unit-norm, and a genuinely different
    direction."""
    from vsphere_event_streaming_spark.functions.classifier import (
        deflated_second_component,
    )

    emb = spark.read.parquet(EMB)
    g = gram_micro(emb)
    d = 1 + max(i for i, _ in g)
    v1 = power_iteration(g, d, iters=PCA_ITERS)
    v2 = deflated_second_component(g, d, iters=PCA_ITERS)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{EMB}'")
    v2_duck = list(
        con.sql(
            pca_oracle(iters=PCA_ITERS, components=2)
            + "SELECT v FROM v2f"
        ).fetchone()[0]
    )
    con.close()
    assert v2 == v2_duck
    assert abs(sum(a * b for a, b in zip(v1, v2))) < 1e-12
    assert abs(sum(x * x for x in v2) - 1.0) < 1e-9
    assert sum(abs(a - b) for a, b in zip(v1, v2)) > 0.1


def test_pca_second_component_rank1_degenerate():
    """A rank-1 Gram (every row a multiple of one vector) has no
    second direction: deflation leaves ~nothing and the projection
    must come back as the degenerate near-zero vector, not NaN."""
    from vsphere_event_streaming_spark.functions.classifier import (
        deflated_second_component,
    )

    # gram of 100 copies of x = [1, 2]: G = 100 * x xᵀ (micro-units)
    g = {
        (0, 0): 100_000_000,
        (0, 1): 200_000_000,
        (1, 0): 200_000_000,
        (1, 1): 400_000_000,
    }
    v2 = deflated_second_component(g, 2, iters=6)
    assert v2 == [0.0, 0.0]  # explicit zero: no second direction
    # ... and the oracle takes the SAME branch on a 2-dim rank-1
    # corpus (100 identical [1,2] embeddings)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT range AS vec_id,"
        " [1.0, 2.0]::DOUBLE[] AS embedding, 0 AS label FROM range(100)"
    )
    got = list(
        con.sql(
            pca_oracle(iters=6, components=2) + "SELECT v FROM v2f"
        ).fetchone()[0]
    )
    con.close()
    assert got == [0.0, 0.0]


def test_pca_topm_first_two_match_and_pairwise_orthogonal(spark):
    """pca_topm must reproduce power_iteration / deflated_second_
    component BIT-IDENTICALLY for its first two components (same
    folds, VERDICT_r7 #6), every component must be unit-norm, and the
    four components pairwise orthogonal (each Gram-Schmidt projection
    is exact by construction; later pairs accumulate only the float
    residue of the sequential projections)."""
    from vsphere_event_streaming_spark.functions.classifier import (
        deflated_second_component,
        pca_topm,
    )
    from vsphere_event_streaming_spark.queries.model_queries import (
        PCA_TOPM,
    )

    emb = spark.read.parquet(EMB)
    g = gram_micro(emb)
    d = 1 + max(i for i, _ in g)
    comps = pca_topm(g, d, iters=PCA_ITERS, m=PCA_TOPM)
    assert len(comps) == PCA_TOPM
    assert comps[0] == power_iteration(g, d, iters=PCA_ITERS)
    assert comps[1] == deflated_second_component(g, d, iters=PCA_ITERS)
    for c in comps:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9
    for a in range(PCA_TOPM):
        for b in range(a + 1, PCA_TOPM):
            dot_ab = sum(
                x * y for x, y in zip(comps[a], comps[b])
            )
            assert abs(dot_ab) < 1e-9, (a, b, dot_ab)


def test_pca_topm_duckdb_replay_bit_identical(spark):
    """Every one of the four components must replay bit-identically
    through the chained-CTE oracle (deflation + power iteration +
    modified Gram-Schmidt + zero cutoff, all exact)."""
    from vsphere_event_streaming_spark.functions.classifier import (
        pca_topm,
        pca_topm_oracle,
    )
    from vsphere_event_streaming_spark.queries.model_queries import (
        PCA_TOPM,
    )

    emb = spark.read.parquet(EMB)
    g = gram_micro(emb)
    d = 1 + max(i for i, _ in g)
    comps = pca_topm(g, d, iters=PCA_ITERS, m=PCA_TOPM)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{EMB}'")
    prefix = pca_topm_oracle(iters=PCA_ITERS, m=PCA_TOPM)
    names = [f"v{PCA_ITERS}"] + [
        f"vf{c}" for c in range(2, PCA_TOPM + 1)
    ]
    for c, name in enumerate(names):
        got = list(
            con.sql(prefix + f"\nSELECT v FROM {name}").fetchone()[0]
        )
        assert got == comps[c], f"component {c + 1} diverged"
    con.close()


def test_pca_topm_rank_exhaustion_is_absorbing():
    """On a rank-2 Gram, components 3 and 4 must both collapse to the
    explicit zero vector (once rank is exhausted, deflation leaves
    the Gram unchanged and Gram-Schmidt removes every real
    direction), never NaN."""
    from vsphere_event_streaming_spark.functions.classifier import (
        pca_topm,
    )

    # 100 copies of [1, 2, 0] + 50 copies of [0, 0, 3]: rank 2
    g = {
        (0, 0): 100_000_000,
        (0, 1): 200_000_000,
        (1, 0): 200_000_000,
        (1, 1): 400_000_000,
        (2, 2): 450_000_000,
    }
    comps = pca_topm(g, 3, iters=6, m=4)
    assert comps[2] == [0.0, 0.0, 0.0]
    assert comps[3] == [0.0, 0.0, 0.0]
    assert all(abs(sum(x * x for x in comps[c]) - 1.0) < 1e-9 for c in (0, 1))


def test_model_memo_refreshes_on_in_place_corpus_rewrite(spark, tmp_path):
    """ADVICE r7: the trained-model memos must key on the corpus
    FINGERPRINT, not the bare path — a corpus rewritten in place under
    the same sf_dir must train a fresh model, not serve the stale one."""
    from vsphere_event_streaming_spark.queries.model_queries import (
        q_kmeans_cluster,
    )
    from vsphere_event_streaming_spark.state import corpus_key

    d = str(tmp_path)
    rows1 = [(i, [float(i % 5), float(i % 3)], i % 2) for i in range(40)]
    spark.createDataFrame(
        rows1, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    k1 = corpus_key(d)
    a1 = {
        r["vec_id"]: r["cid"]
        for r in q_kmeans_cluster(spark, d).collect()
    }
    # in-place rewrite: same path, different corpus
    rows2 = [(i, [float(-(i % 7)), float(i % 11)], i % 2) for i in range(40)]
    spark.createDataFrame(
        rows2, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    k2 = corpus_key(d)
    assert k1 != k2, "fingerprint failed to see the in-place rewrite"
    a2 = {
        r["vec_id"]: r["cid"]
        for r in q_kmeans_cluster(spark, d).collect()
    }
    assert a1 != a2, (
        "rewritten corpus served the stale memoized model"
    )


def test_binned_auc_cells_merge_and_bound_the_exact_auc(spark):
    """L34-b's two contracts: (1) the (cpos, cneg) cells are ADDITIVE
    across corpus splits — cells(A ∪ B) == cells(A) + cells(B)
    cell-wise, the merge property a streaming monitor accumulates on;
    (2) |binned − exact| AUC is bounded by the within-bin tie credit,
    ≤ 1/AUC_BUCKETS."""
    from vsphere_event_streaming_spark.queries.model_queries import (
        AUC_BUCKETS,
        _scored,
        q_classifier_auc,
        q_classifier_auc_binned,
    )
    import pyspark.sql.functions as F

    exact = q_classifier_auc(spark, SF_DIR).collect()[0]
    binned = q_classifier_auc_binned(spark, SF_DIR).collect()[0]
    assert binned["n_pos"] == exact["n_pos"]
    assert binned["n_neg"] == exact["n_neg"]
    assert abs(binned["auc"] - exact["auc"]) <= 1.0 / AUC_BUCKETS, (
        binned["auc"],
        exact["auc"],
    )

    def cells_of(df):
        rows = (
            df.groupBy(
                F.least(
                    F.lit(AUC_BUCKETS - 1),
                    F.floor(F.col("p") * AUC_BUCKETS),
                )
                .cast("int")
                .alias("bin")
            )
            .agg(
                F.sum((F.col("y") == 1.0).cast("long")).alias("cpos"),
                F.sum((F.col("y") == 0.0).cast("long")).alias("cneg"),
            )
            .collect()
        )
        return {r["bin"]: (r["cpos"], r["cneg"]) for r in rows}

    sc = _scored(spark, SF_DIR)
    whole = cells_of(sc)
    a = cells_of(sc.filter(F.col("vec_id") % 2 == 0))
    b = cells_of(sc.filter(F.col("vec_id") % 2 == 1))
    merged = {}
    for part in (a, b):
        for k, (cp, cn) in part.items():
            p0, n0 = merged.get(k, (0, 0))
            merged[k] = (p0 + cp, n0 + cn)
    assert merged == whole


def test_pca_topm_detail_lambdas_replay_and_whitening_normalizes(spark):
    """L35''' foundations: (1) pca_topm_detail's λs must replay
    BIT-IDENTICALLY through lam{c}/lamF; (2) components stay
    unchanged vs pca_topm; (3) whitened coordinates have ~unit second
    moment (that is the point of the tier); (4) a rank-exhausted
    component whitens to the explicit zero, never Inf/NaN."""
    from vsphere_event_streaming_spark.functions.classifier import (
        pca_topm,
        pca_topm_detail,
        pca_topm_oracle,
    )
    from vsphere_event_streaming_spark.queries.model_queries import (
        PCA_TOPM,
        q_embed_whiten,
    )

    emb = spark.read.parquet(EMB)
    g = gram_micro(emb)
    d = 1 + max(i for i, _ in g)
    comps, lams = pca_topm_detail(g, d, iters=PCA_ITERS, m=PCA_TOPM)
    assert comps == pca_topm(g, d, iters=PCA_ITERS, m=PCA_TOPM)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{EMB}'")
    prefix = pca_topm_oracle(
        iters=PCA_ITERS, m=PCA_TOPM, with_final_lambda=True
    )
    duck_lams = [
        con.sql(prefix + f"\nSELECT l FROM lam{c}").fetchone()[0]
        for c in range(2, PCA_TOPM + 1)
    ] + [con.sql(prefix + "\nSELECT l FROM lamF").fetchone()[0]]
    con.close()
    assert duck_lams == lams
    assert all(lam > 0 for lam in lams)

    rows = q_embed_whiten(spark, SF_DIR).collect()
    n = len(rows)
    for c in range(PCA_TOPM):
        ms = sum(r[f"w{c + 1}"] ** 2 for r in rows) / n
        assert abs(ms - 1.0) < 0.05, (c, ms)

    # rank-1 gram: components 2..m are zero, λ=0, whitening yields 0
    g1 = {
        (0, 0): 100_000_000,
        (0, 1): 200_000_000,
        (1, 0): 200_000_000,
        (1, 1): 400_000_000,
    }
    comps1, lams1 = pca_topm_detail(g1, 2, iters=6, m=3)
    assert comps1[1] == [0.0, 0.0] and comps1[2] == [0.0, 0.0]
    assert lams1[1] == 0.0 and lams1[2] == 0.0


def test_pca_order_ties_break_on_deflation_index():
    """pca_order sorts λ descending with the deflation index as the
    deterministic tie-break — the exact key the oracle's
    ``ORDER BY lam DESC, c`` replays."""
    from vsphere_event_streaming_spark.functions.classifier import (
        pca_order,
    )

    assert pca_order([5.0, 7.0, 7.0]) == [1, 2, 0]
    assert pca_order([0.0, 0.0]) == [0, 1]
    assert pca_order([1.0, 3.0, 2.0, 4.0]) == [3, 1, 2, 0]


def test_pca_ordered_relabels_by_lambda_and_replays(spark):
    """VERDICT_r8 #2 pinned: on the driver corpus the FIXED-iteration
    deflation-order λs are NOT monotone (λ₂ < λ₃ — the motivating
    mislabel), so (1) the motivation must stay observable, (2) the
    ordered output must be exactly the λ-sorted permutation with
    monotone non-increasing λs, and (3) the oracle's ``pord`` CTE must
    replay the SAME order with bit-identical λs and vectors — an
    engine that sorted differently would silently swap pc2/pc3."""
    from vsphere_event_streaming_spark.functions.classifier import (
        pca_order,
        pca_topm_detail,
        pca_topm_ordered,
        pca_topm_ordered_oracle,
    )
    from vsphere_event_streaming_spark.queries.model_queries import (
        PCA_TOPM,
    )

    emb = spark.read.parquet(EMB)
    g = gram_micro(emb)
    d = 1 + max(i for i, _ in g)
    raw_comps, raw_lams = pca_topm_detail(g, d, iters=PCA_ITERS, m=PCA_TOPM)
    # the motivation: deflation order mislabels components 2 and 3
    assert raw_lams[1] < raw_lams[2], (
        "driver corpus no longer exhibits the λ₂ < λ₃ swap — "
        "re-pin this test (the ordering itself still holds)"
    )
    order = pca_order(raw_lams)
    assert order == [0, 2, 1, 3]

    comps, lams = pca_topm_ordered(g, d, iters=PCA_ITERS, m=PCA_TOPM)
    assert lams == sorted(raw_lams, reverse=True)
    assert all(lams[i] >= lams[i + 1] for i in range(len(lams) - 1))
    assert comps == [raw_comps[c] for c in order]

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{EMB}'")
    prefix = pca_topm_ordered_oracle(iters=PCA_ITERS, m=PCA_TOPM)
    rows = con.sql(
        prefix + "\nSELECT lam, v FROM pord ORDER BY r"
    ).fetchall()
    con.close()
    assert [r[0] for r in rows] == lams
    assert [list(r[1]) for r in rows] == comps


def test_pca_ordered_rank_exhausted_lambdas_sort_last():
    """Rank-exhausted components carry λ = +0.0 exactly and must sort
    LAST under the eigenvalue ordering (a zero direction can never
    outrank a real one), keeping the absorbing-zero contract intact
    through the relabeling."""
    from vsphere_event_streaming_spark.functions.classifier import (
        pca_topm_ordered,
    )

    g1 = {
        (0, 0): 100_000_000,
        (0, 1): 200_000_000,
        (1, 0): 200_000_000,
        (1, 1): 400_000_000,
    }
    comps, lams = pca_topm_ordered(g1, 2, iters=6, m=3)
    assert lams[0] > 0.0
    assert lams[1] == 0.0 and lams[2] == 0.0
    assert comps[1] == [0.0, 0.0] and comps[2] == [0.0, 0.0]
    assert abs(sum(x * x for x in comps[0]) - 1.0) < 1e-9


def test_scree_reuses_gram_after_whiten_populates_memo(spark, monkeypatch):
    """ADVICE r9: q_embed_pca_scree's docstring promises ZERO extra
    corpus passes, but a whiten-memo hit without a memoized trace
    fell back to a full gram_micro recompute. The one whiten model
    entry carries the Gram-diagonal trace — so running
    q_embed_whiten FIRST and then the scree must never call
    gram_micro again."""
    from collections import OrderedDict

    from vsphere_event_streaming_spark import state
    from vsphere_event_streaming_spark.queries import model_queries as mq

    monkeypatch.setattr(state, "_TRAINED", OrderedDict())
    mq.q_embed_whiten(spark, SF_DIR).collect()
    ck = ("whiten", state.corpus_key(SF_DIR))
    assert ck in state._TRAINED
    assert state._TRAINED[ck][3] is not None, (
        "whiten populated the memo without the trace"
    )

    def _boom(_emb):
        raise AssertionError(
            "q_embed_pca_scree re-ran gram_micro despite a warm "
            "whiten memo — the zero-extra-passes contract is broken"
        )

    monkeypatch.setattr(mq, "gram_micro", _boom)
    rows = mq.q_embed_pca_scree(spark, SF_DIR).collect()
    assert rows and all(r["var_ratio"] >= 0.0 for r in rows)
