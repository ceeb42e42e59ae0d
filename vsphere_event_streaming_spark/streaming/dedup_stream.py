"""Streaming incremental near-dup: the LshIndex driven by Structured
Streaming (SURVEY §2.11 L12, streaming form).

The batch-incremental ``LshIndex`` already gives exactly-once-shaped
semantics (candidates computed before the write; per-batch partition
overwrite makes retries idempotent). Every starter here runs through
:func:`~.store_stream.start_store`, whose epoch contract makes an epoch
retry unable to double-ingest bands or duplicate candidate pairs.

At 100 TB this is the crawl-ingest topology: a file/queue stream of
document batches, each micro-batch banding against the full history at
constant bytes/doc, candidates point-joined downstream for exact
re-score (the caller's step, as in the batch form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..functions.dedup import LshIndex
from ..store import batch_partition_dir
from .store_stream import start_store

#: Schema the document stream must carry (the driver's documents
#: parquet layout, minus derived columns).
DOC_STREAM_SCHEMA = "doc_id long, text string"


def start_incremental_dedup(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    band_size: int = 2,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Run the incremental near-dup index as a streaming query.

    Reads a parquet file stream of ``(doc_id, text)`` batches; for each
    micro-batch, emits candidate pairs (new↔history ∪ new↔new) to the
    epoch's partition of ``pairs_dir`` and ingests the batch's bands
    into the index. Both writes overwrite their own epoch partition
    (layout: ``store.py``); ``index_dir`` and ``pairs_dir`` both belong to the
    checkpoint unit of :func:`~.store_stream.start_store`'s CONTRACT.
    """
    index = LshIndex(spark, index_dir, band_size=band_size)

    def process(batch_df: DataFrame, batch_id: str) -> None:
        # add_batch materializes candidates (localCheckpoint) and
        # releases its own persists, so nothing here leaks across
        # epochs and nothing re-reads the index after the band write
        pairs = index.add_batch(batch_df, batch_id=batch_id)
        # the batch_id column comes back at read time via partition
        # discovery on the directory name — storing it in the files
        # too would collide with the inferred partition column
        pairs.write.mode("overwrite").parquet(
            batch_partition_dir(pairs_dir, batch_id)
        )

    return start_store(
        spark, process, input_dir, checkpoint_dir, DOC_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )


def read_candidate_pairs(spark: SparkSession, pairs_dir: str) -> DataFrame:
    """All candidate pairs emitted so far, with their epoch column."""
    return spark.read.parquet(pairs_dir)


#: Schema the embedding stream must carry (the driver's embeddings
#: parquet layout, minus derived columns).
VEC_STREAM_SCHEMA = "vec_id long, embedding array<float>"


def start_incremental_semantic_dedup(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    decisions_dir: str,
    checkpoint_dir: str,
    threshold: float | None = None,
    n_bits: int = 6,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming semantic dedup: the ``VectorLshIndex`` driven by
    Structured Streaming — the embedding twin of
    ``start_incremental_dedup`` (L12/L18).

    Reads a parquet file stream of ``(vec_id, embedding)`` batches;
    each micro-batch gets keep/drop decisions against everything seen
    so far (sign-LSH bucket join + exact cosine re-score, min-id
    dominance) written to the epoch's partition of ``decisions_dir``,
    then joins the index. Epoch contract:
    :func:`~.store_stream.start_store`.
    """
    from ..functions.vectors import SEMANTIC_THRESHOLD, VectorLshIndex

    index = VectorLshIndex(
        spark,
        index_dir,
        threshold=SEMANTIC_THRESHOLD if threshold is None else threshold,
        n_bits=n_bits,
    )

    def process(batch_df: DataFrame, batch_id: str) -> None:
        decisions = index.add_batch(batch_df, batch_id=batch_id)
        decisions.write.mode("overwrite").parquet(
            batch_partition_dir(decisions_dir, batch_id)
        )

    return start_store(
        spark, process, input_dir, checkpoint_dir, VEC_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )


def read_semantic_decisions(
    spark: SparkSession, decisions_dir: str
) -> DataFrame:
    """All keep/drop decisions emitted so far, with their epoch."""
    return spark.read.parquet(decisions_dir)


def start_incremental_shingle_df(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream ``(doc_id, text)`` batches into a
    :class:`~..functions.dedup.ShingleDfStore` — the L41 novelty
    tier's monitoring topology (r9): each epoch collapses to additive
    ``(sh, df)`` cells; the per-doc novelty of everything ingested
    reads off the merged df table at any time
    (``store.novelty(union)``), bit-identical to the batch
    q_ngram_novelty machinery (cell additivity across doc-disjoint
    batches; parity asserted in ``tests/test_streaming.py``). Epoch
    contract: :func:`~.store_stream.start_store`."""
    from ..functions.dedup import ShingleDfStore

    store = ShingleDfStore(spark, store_dir)
    return start_store(
        spark, store.add_batch, input_dir, checkpoint_dir, DOC_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )


def start_incremental_term_stats(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream ``(doc_id, text)`` batches into a
    :class:`~..functions.text.TermStatsStore` — the hybrid-retrieval
    serve topology (r10, VERDICT_r9 #7): each epoch collapses to the
    additive BM25 corpus cells ``(term df) + (n_docs, token_sum)``;
    BM25 over the ingested corpus reads off the merged cells at any
    time (``store.bm25(union)``), bit-identical to the batch
    ``bm25_scores`` (cell additivity across doc-disjoint batches;
    parity asserted in ``tests/test_streaming.py``). Epoch contract:
    :func:`~.store_stream.start_store`."""
    from ..functions.text import TermStatsStore

    store = TermStatsStore(spark, store_dir)

    return start_store(
        spark, store.add_batch, input_dir, checkpoint_dir, DOC_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )


def start_incremental_exact_keepers(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream ``(doc_id, text)`` batches into an
    :class:`~..functions.dedup.ExactDedupStore` — L1's ingest
    topology (r10): each epoch collapses to (min, sum)-mergeable
    ``(nh, keeper_id, copies)`` cells; the exact-dedup keeper table
    of everything ingested reads off the merged cells at any time
    (``store.keepers()``), bit-identical to the batch
    ``exact_dedup_keepers`` (parity asserted in
    ``tests/test_streaming.py``). Epoch contract:
    :func:`~.store_stream.start_store`."""
    from ..functions.dedup import ExactDedupStore

    store = ExactDedupStore(spark, store_dir)

    return start_store(
        spark, store.add_batch, input_dir, checkpoint_dir, DOC_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )


def start_incremental_bloom(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream ``(doc_id, text)`` batches into a
    :class:`~..functions.sketches.BloomStore` keyed by the batch's
    distinct shingle hashes — the growing-benchmark decontamination
    topology (r11): each new eval suite lands as one epoch, collapses
    to its distinct Bloom set-bit positions, and the merged ≤ m-row
    filter serves membership probes at any time. SET-UNION merge:
    unlike the count-additive stores, overlapping ingest is harmless
    (re-setting a bit is a no-op), so suite revisions can simply
    re-ingest. Epoch contract: :func:`~.store_stream.start_store`."""
    from pyspark.sql import functions as F

    from ..functions.dedup import shingle_hash_arrays
    from ..functions.sketches import BloomStore
    from ..state import scoped

    store = BloomStore(spark, store_dir)

    def process(batch_df: DataFrame, batch_id: str) -> None:
        with scoped():
            sh = (
                shingle_hash_arrays(batch_df)
                .select(F.explode("sh_arr").alias("sh"))
                .distinct()
            )
            store.add_batch(sh, batch_id=batch_id, key_col="sh")

    return start_store(
        spark, process, input_dir, checkpoint_dir, DOC_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )


#: Schema a verified-pair stream must carry (the `lsh_verified_pairs`
#: / `verify_candidate_pairs` output layout).
PAIR_STREAM_SCHEMA = "id_a long, id_b long, jaccard double"


def start_incremental_groups(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream VERIFIED near-dup pair batches into a
    :class:`~..functions.dedup.GroupStore` — the group-label half of
    the canonical incremental dedup topology (r13, 17th family):
    :func:`start_incremental_dedup` bands each doc batch against
    history and emits candidates, the caller's
    :func:`~..functions.dedup.verify_candidate_pairs` re-scores them
    exactly, and each epoch of surviving pairs lands here — merged
    into the stored connected-component labels, so
    ``store.labels()`` is the keep-one-per-group table of everything
    ingested at any time, bit-identical to batch ``dedup_groups``
    over the union (pytest). MIN-LATTICE merge: overlapping or
    replayed pair batches converge (re-unioning merged pairs is a
    no-op). Epoch contract: :func:`~.store_stream.start_store`."""
    from ..functions.dedup import GroupStore

    store = GroupStore(spark, store_dir)

    return start_store(
        spark, store.add_batch, input_dir, checkpoint_dir, PAIR_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )
