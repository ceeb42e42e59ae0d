"""One streaming entry point for the whole incremental store tier.

Every ``start_incremental_*`` starter builds its store and hands its
per-epoch ``add`` to :func:`start_store`, which owns the parquet file
stream, the per-epoch callback, the checkpoint and the
epoch-to-``batch_id`` naming.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


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
    present at start are consumed (``availableNow``).

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
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(
            lambda batch_df, epoch_id: add(
                batch_df, f"{batch_prefix}{epoch_id}"
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
