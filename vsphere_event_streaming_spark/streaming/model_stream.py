"""Streaming forms of the trained-model tier (SURVEY §2.11
L34/L35, streaming forms): score an embedding stream with an
offline-trained classifier, and stream Gram-cell batches into the
incremental PCA store.

Two topologies, matching how real pipelines split train and serve:

- **Serve path** (:func:`streaming_scores`): the trained micro-unit
  weights are frozen literals, and scoring is a PURE PROJECTION —
  `logreg_score` / `kmeans_assign` are stateless per-row folds, so
  they compose with `readStream` directly (no per-epoch callback, no
  state store, watermark-free). Batch/stream score parity is exact by
  construction (same expression tree); asserted in
  ``tests/test_streaming.py``.
- **Train path** (:func:`start_incremental_gram`): the quantized Gram
  cells are ADDITIVE BIGINTs, so the PCA store ingests per-epoch cell
  batches through :func:`~.store_stream.start_store`, like every
  other store family, and cannot double-count. Retraining over the
  streamed store is bit-identical to from-scratch over everything
  ingested (``GramStore.train``).

At 100 TB: the serve path is the quality-filter stage of an ingest
topology (score-and-gate each crawl batch as it lands); the train
path refreshes the projection on a cadence while frozen weights keep
serving.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.classifier import GramStore, logreg_score
from .store_stream import start_store

#: Schema of streamed embedding batches (the driver corpus's layout).
EMB_STREAM_SCHEMA = "vec_id long, embedding array<float>, label int"


def streaming_scores(
    stream: DataFrame, w_micro: list[int], threshold: float = 0.5
) -> DataFrame:
    """Classifier scores + keep/drop gate over a streaming embeddings
    frame — a stateless projection, legal in any output mode."""
    p = logreg_score(F.col("embedding"), w_micro)
    return stream.select(
        "vec_id",
        "label",
        p.alias("p"),
        (p >= F.lit(threshold)).cast("int").alias("keep"),
    )


def start_streaming_scoring(
    spark: SparkSession,
    input_dir: str,
    w_micro: list[int],
    checkpoint_dir: str,
    query_name: str = "model_scores",
    threshold: float = 0.5,
) -> StreamingQuery:
    """Stream embedding parquet batches through the trained
    classifier into a memory sink (test/demo harness; production
    would writeStream to parquet/Kafka — the projection is
    sink-agnostic)."""
    stream = spark.readStream.schema(EMB_STREAM_SCHEMA).parquet(input_dir)
    return (
        streaming_scores(stream, w_micro, threshold=threshold)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_incremental_gram(
    spark: SparkSession,
    input_dir: str,
    gram_dir: str,
    checkpoint_dir: str,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream ``(vec_id, embedding, label)`` parquet batches into a
    :class:`GramStore` (additive cells). Epoch contract:
    :func:`~.store_stream.start_store`."""
    store = GramStore(spark, gram_dir)

    return start_store(
        spark, store.add_batch, input_dir, checkpoint_dir, EMB_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )


def streaming_pca_projection(
    stream: DataFrame, components: list[list[float]]
) -> DataFrame:
    """Top-m PCA projection over a streaming embeddings frame — the
    r8 serve-path twin of :func:`streaming_scores` for the L35''
    artifact: the trained components are frozen literals and each
    ``pc{i}`` is a stateless codegen fold, so the projection composes
    with ``readStream`` directly (no state, no watermark) and
    batch/stream parity is exact by construction (same expression
    tree; asserted in ``tests/test_streaming.py``)."""
    from ..functions.classifier import pca_project

    return stream.select(
        "vec_id",
        "label",
        *[
            F.round(pca_project(F.col("embedding"), v), 6).alias(
                f"pc{i + 1}"
            )
            for i, v in enumerate(components)
        ],
    )


def streaming_whitened_projection(
    stream: DataFrame,
    components: list[list[float]],
    lams: list[float],
    n: int,
) -> DataFrame:
    """WHITENED top-m projection over a streaming embeddings frame —
    the λ-scaled serve-path twin of :func:`streaming_pca_projection`
    (VERDICT_r8 #7): frozen ``pca_topm_detail``/``pca_topm_ordered``
    artifacts (components, their λs, and the training-corpus row
    count N) applied as stateless literal-scaled codegen folds, so
    the projection composes with ``readStream`` directly and
    batch/stream parity is exact by construction — the expression
    tree is ``classifier.whiten_columns``, the SAME helper
    q_embed_whiten projects with (parity asserted in
    ``tests/test_streaming.py``). A rank-exhausted component (λ ≤ 0)
    whitens to the explicit 0.0, never Inf/NaN."""
    from ..functions.classifier import whiten_columns

    return stream.select(
        "vec_id",
        "label",
        *whiten_columns(F.col("embedding"), components, lams, n),
    )


def streaming_outlier_scores(
    stream: DataFrame, components: list[list[float]]
) -> DataFrame:
    """PCA reconstruction-error scoring over a streaming embeddings
    frame — the serve-path twin of q_embed_outlier (r10): the frozen
    eigenvalue-ordered components applied as the SAME
    ``classifier.outlier_residual`` expression the declared query
    projects with (stateless m+1 codegen folds per row; batch/stream
    parity exact by construction, asserted in
    ``tests/test_streaming.py``). A crawl pipeline runs this on each
    arriving batch to flag OOD/noise vectors before they enter the
    dedup/selection tiers."""
    from ..functions.classifier import outlier_residual

    return stream.select(
        "vec_id",
        "label",
        outlier_residual(F.col("embedding"), components).alias(
            "resid_energy"
        ),
    )


def streaming_cluster_assignments(
    stream: DataFrame, cm: list[list[int]]
) -> DataFrame:
    """Trained k-means cell assignment over a streaming embeddings
    frame — the serve path the docstring's topology names: each crawl
    batch is routed to its cell (IVF partition, curriculum stratum)
    by the frozen literal-centroid argmin, stateless per row."""
    from ..functions.kmeans import kmeans_assign

    return stream.select(
        "vec_id",
        "label",
        kmeans_assign(F.col("embedding"), cm).alias("cid"),
    )


def start_incremental_quantile_cells(
    spark: SparkSession,
    input_dir: str,
    cells_dir: str,
    checkpoint_dir: str,
    schema: str,
    value_col: str = "value",
    group_col: str = "event_type",
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream value batches into a
    :class:`~..functions.sketches.QuantileCellStore` — the L39
    monitoring topology, the quantile twin of
    :func:`start_incremental_auc_cells`: each epoch collapses to
    ≤QB_BUCKETS additive (group, bucket, count) cells; the running
    per-group quantiles read off the merged cells at any time
    (``store.quantiles()``), bit-identical to the batch
    q_percentile_binned over everything ingested (cell additivity;
    parity asserted in ``tests/test_streaming.py``). Epoch contract:
    :func:`~.store_stream.start_store`."""
    from ..functions.sketches import QuantileCellStore

    store = QuantileCellStore(
        spark, cells_dir, value_col=value_col, group_col=group_col
    )

    return start_store(
        spark, store.add_batch, input_dir, checkpoint_dir, schema,
        batch_prefix, max_files_per_trigger,
    )


def start_incremental_rate_cells(
    spark: SparkSession,
    input_dir: str,
    cells_dir: str,
    checkpoint_dir: str,
    schema: str,
    type_col: str = "event_type",
    ts_col: str = "ts",
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream event batches into a
    :class:`~..functions.sketches.RateCellStore` — the T6d monitoring
    topology, the rate twin of
    :func:`start_incremental_quantile_cells`: each epoch collapses to
    one additive BIGINT per (type, tumbling bucket) touched; the
    running anomaly table reads off the merged cells at any time
    (``store.anomalies()``), bit-identical to the batch
    q_events_anomaly over everything ingested (cell additivity;
    parity asserted in ``tests/test_streaming.py``). Epoch contract:
    :func:`~.store_stream.start_store`."""
    from ..functions.sketches import RateCellStore

    store = RateCellStore(
        spark, cells_dir, type_col=type_col, ts_col=ts_col
    )

    return start_store(
        spark, store.add_batch, input_dir, checkpoint_dir, schema,
        batch_prefix, max_files_per_trigger,
    )


def start_incremental_cms_cells(
    spark: SparkSession,
    input_dir: str,
    cells_dir: str,
    checkpoint_dir: str,
    schema: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream keyed batches into a
    :class:`~..functions.sketches.CmsStore` — the L27 monitoring
    topology: each epoch collapses to ≤d×w additive (row, bucket, c)
    cells; the running sketch and point estimates read off the merged
    cells at any time (``store.sketch()`` / ``store.estimate()``),
    bit-identical to a from-scratch cms_build over everything
    ingested (the textbook CMS cell-wise-sum merge; parity asserted
    in ``tests/test_streaming.py``). Epoch contract:
    :func:`~.store_stream.start_store`."""
    from ..functions.sketches import CmsStore

    store = CmsStore(spark, cells_dir, key_col, depth, width)

    return start_store(
        spark, store.add_batch, input_dir, checkpoint_dir, schema,
        batch_prefix, max_files_per_trigger,
    )


def start_incremental_activity(
    spark: SparkSession,
    input_dir: str,
    rows_dir: str,
    checkpoint_dir: str,
    schema: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream event batches into an
    :class:`~..functions.sketches.ActivityStore` — the T6f retention
    topology, the first SET-UNION member of the store tier: each
    epoch collapses to its distinct (user, day) rows; the running
    cohort-retention table reads off the merged distinct rows at any
    time (``store.retention()``), bit-identical to the batch
    q_events_retention over everything ingested (parity asserted in
    ``tests/test_streaming.py``). Epoch contract:
    :func:`~.store_stream.start_store`."""
    from ..functions.sketches import ActivityStore

    store = ActivityStore(spark, rows_dir, user_col=user_col, ts_col=ts_col)

    return start_store(
        spark, store.add_batch, input_dir, checkpoint_dir, schema,
        batch_prefix, max_files_per_trigger,
    )


def start_incremental_auc_cells(
    spark: SparkSession,
    input_dir: str,
    cells_dir: str,
    checkpoint_dir: str,
    w_micro: list[int],
    positive_label: int = 0,
    n_buckets: int = 128,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream embedding batches through the frozen classifier into an
    :class:`~..functions.classifier.AucCellStore` — the L34-b
    monitoring topology: each epoch is scored by the stateless
    projection and collapsed to ≤n_buckets additive (bin, cpos, cneg)
    cells; the running corpus AUC reads off the merged cells at any
    time (``store.auc()``), bit-identical to the batch
    q_classifier_auc_binned over everything ingested (cell
    additivity, as for GramStore/BpeVocab; parity asserted in
    ``tests/test_streaming.py``). Epoch contract:
    :func:`~.store_stream.start_store`."""
    from ..functions.classifier import AucCellStore

    store = AucCellStore(spark, cells_dir, n_buckets=n_buckets)

    def process(batch_df: DataFrame, batch_id: str) -> None:
        scored = batch_df.select(
            F.when(
                F.col("label") == positive_label, F.lit(1.0)
            )
            .otherwise(F.lit(0.0))
            .alias("y"),
            logreg_score(F.col("embedding"), w_micro).alias("p"),
        )
        store.add_batch(scored, batch_id=batch_id)

    return start_store(
        spark, process, input_dir, checkpoint_dir, EMB_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )


def start_incremental_ivfpq(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    centroids: DataFrame,
    books: list[list[list[float]]],
    d: int,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream embedding batches into an
    :class:`~..functions.vectors.IvfPqStore` — the serve-path ingest
    for the flagship ANN layout (VERDICT_r10 #3): under FROZEN coarse
    cells + FROZEN codebooks each epoch is assigned (one broadcast
    join) and PQ-encoded (one Arrow pass) into its own partition, so
    the growing serving index never re-reads history. Probe ≡
    rebuilt-index probe on doc-disjoint ingest (asserted in
    ``tests/test_streaming.py``). Epoch contract:
    :func:`~.store_stream.start_store`."""
    from ..functions.vectors import IvfPqStore

    store = IvfPqStore(spark, index_dir, centroids, books, d)

    def process(batch_df: DataFrame, batch_id: str) -> None:
        store.add_batch(
            batch_df.select("vec_id", "embedding"),
            batch_id=batch_id,
        )

    return start_store(
        spark, process, input_dir, checkpoint_dir, EMB_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )


def start_incremental_mrl(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    prefix_len: int,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream embedding batches into an
    :class:`~..functions.vectors.MrlStore` — the serve-path ingest
    for the Matryoshka prefix-column layout (VERDICT_r11 #4). The
    prefix projection is a pure per-row function, so each epoch is
    one codegen ``slice`` over the batch appended as its own
    partition: no trained state, no history read, no shuffle. Probe ≡ rebuilt ``write_mrl_index`` probe on
    doc-disjoint ingest and the stage-1 scan stays prefix-only
    (asserted in ``tests/test_streaming.py``). Epoch contract:
    :func:`~.store_stream.start_store`.
    """
    from ..functions.vectors import MrlStore

    store = MrlStore(spark, index_dir, prefix_len)

    def process(batch_df: DataFrame, batch_id: str) -> None:
        store.add_batch(
            batch_df.select("vec_id", "embedding"),
            batch_id=batch_id,
        )

    return start_store(
        spark, process, input_dir, checkpoint_dir, EMB_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )
