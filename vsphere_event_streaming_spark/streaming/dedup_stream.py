"""Streaming incremental near-dup: the LshIndex driven by Structured
Streaming (SURVEY §2.11 L12, streaming form).

The batch-incremental ``LshIndex`` already gives exactly-once-shaped
semantics (candidates computed before the write; per-batch partition
overwrite makes retries idempotent). Every starter here runs through
:func:`~.store_stream.start_store`, whose epoch contract makes an epoch
retry unable to double-ingest bands or duplicate candidate pairs.

The starters here do more per epoch than one store write: the two
dedup indexes write a side-output partition (candidate pairs,
keep/drop decisions) and the Bloom stream hashes shingles first. A
store fed the stream as-is (``ShingleDfStore``, ``TermStatsStore``,
``ExactDedupStore``, ``GroupStore``, ``BpeVocab``) needs no starter:
pass its ``add_batch`` to :func:`~.store_stream.start_store` with
``DOC_STREAM_SCHEMA`` (``PAIR_STREAM_SCHEMA`` for ``GroupStore``).

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
from .store_stream import DOC_STREAM_SCHEMA, start_store


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
