"""Streaming incremental BPE vocabulary: BpeVocab driven by Structured
Streaming (SURVEY §2.11 L12''', streaming form).

Runs through :func:`~.store_stream.start_store`, whose epoch contract
means an epoch retry cannot double-count words. Word counts are
additive, so a retrain over the streamed store is bit-identical to a
from-scratch train over everything ingested (``BpeVocab.train``;
parity asserted in ``tests/test_streaming.py``).

At 100 TB this is the tokenizer-refresh topology: crawl batches stream
in, each epoch appends its vocabulary-bounded count table at constant
cost, and the merge table is retrained on a cadence (per crawl epoch,
not per micro-batch) while the frozen merges keep tokenizing new data.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..functions.bpe import BpeVocab
from .dedup_stream import DOC_STREAM_SCHEMA
from .store_stream import start_store


def start_incremental_bpe_vocab(
    spark: SparkSession,
    input_dir: str,
    vocab_dir: str,
    checkpoint_dir: str,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
    word_re: str | None = None,
) -> StreamingQuery:
    """Stream ``(doc_id, text)`` parquet batches into a BpeVocab.

    Epoch contract: :func:`~.store_stream.start_store`. ``word_re``
    pins the store's training alphabet (default
    :data:`~..functions.bpe.WORD_RE`); a resumed stream against a
    store built under a different alphabet fails at construction (the
    BpeVocab marker check), not after mixed counts.
    """
    store = (
        BpeVocab(spark, vocab_dir)
        if word_re is None
        else BpeVocab(spark, vocab_dir, word_re=word_re)
    )

    return start_store(
        spark, store.add_batch, input_dir, checkpoint_dir, DOC_STREAM_SCHEMA,
        batch_prefix, max_files_per_trigger,
    )
