"""One streaming entry point for the whole incremental store tier.

A caller builds its store (``store.py``) and hands the store's
``add_batch`` — or its own per-epoch ``add`` — to :func:`start_store`,
which owns the parquet file stream, the per-epoch callback, the
checkpoint and the epoch-to-``batch_id`` naming::

    store = GramStore(spark, gram_dir)
    q = start_store(
        spark, store.add_batch, input_dir, checkpoint_dir,
        EMB_STREAM_SCHEMA, max_files_per_trigger=1,
    )
    q.awaitTermination()
    store.train()

The stream schemas below are the layouts the streamed stores read.
"""

from __future__ import annotations

import logging
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

log = logging.getLogger(__name__)

#: A document stream (the driver's documents parquet layout, minus
#: derived columns).
DOC_STREAM_SCHEMA = "doc_id long, text string"

#: An embedding stream (the driver corpus's embeddings layout).
EMB_STREAM_SCHEMA = "vec_id long, embedding array<float>, label int"

#: A verified-pair stream (the `lsh_verified_pairs` /
#: `verify_candidate_pairs` output layout).
PAIR_STREAM_SCHEMA = "id_a long, id_b long, jaccard double"


def start_store(
    spark: SparkSession,
    add: Callable[[DataFrame, str], object],
    input_dir: str,
    checkpoint_dir: str,
    schema: str,
    batch_prefix: str = "b",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Stream the parquet files under ``input_dir`` (read with
    ``schema``) into ``add(batch_df, batch_id)``, one call per epoch
    with ``batch_id = f"{batch_prefix}{epoch_id}"``, until the files
    present at start are consumed (``availableNow``). Each epoch logs
    one DEBUG line: its batch id and the seconds spent in ``add``.

    Every store writes its epoch as an idempotent batch partition, and
    Structured Streaming replays a failed epoch with the SAME epoch
    id, so a retried epoch (crash between two writes, or a restarted
    query re-running its last uncommitted epoch) overwrites its own
    partition and converges instead of duplicating.

    CONTRACT: ``checkpoint_dir`` and the store directory (whose layout
    ``store.py`` owns, plus any side-output directory the caller's
    ``add`` writes) are one unit — epoch ids are stable only per
    checkpoint. Deleting or swapping the checkpoint while keeping the
    store restarts epochs at 0, and the idempotent overwrite would
    then silently REPLACE historical batches' partitions. To rebuild a stream against an existing
    store, pass a fresh ``batch_prefix`` (e.g. ``"r2-"``) so the new
    query's epochs land in their own partition namespace.

    ``max_files_per_trigger=1`` gives one epoch per input file, which
    forces the per-batch store-growth path instead of one big epoch.
    """

    def epoch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_id = f"{batch_prefix}{epoch_id}"
        t0 = time.perf_counter()
        add(batch_df, batch_id)
        log.debug(
            "epoch %s: add %.3fs", batch_id, time.perf_counter() - t0
        )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
