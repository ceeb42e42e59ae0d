"""Streaming-only operators: event-time windows, watermarks, dedup,
retention (T3, T6, T7).

These are the streaming forms of the batch-checkable analogs in
queries/streaming_queries.py — identical aggregation logic under
``readStream`` with watermarking for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    stream: DataFrame,
    ts_col: str = "created_time",
    window: str = "10 minutes",
    watermark: str | None = "5 minutes",
) -> DataFrame:
    """T6: tumbling event-time counts with late-data watermark.

    Pass ``watermark=None`` when an upstream operator (e.g. streaming
    dedup) already declared one — redefining is disallowed.
    """
    if watermark is not None:
        stream = stream.withWatermark(ts_col, watermark)
    return (
        stream.groupBy(F.window(ts_col, window).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def streaming_dedup(
    stream: DataFrame,
    key_col: str = "key",
    ts_col: str = "created_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """T7: duplicate suppression on replay overlap.

    ``dropDuplicates`` with a watermark bounds the dedup state — keys
    older than the watermark are evicted, which is safe because the
    at-least-once overlap is time-bounded (now−5m, reference
    README.md:27-29).
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicates([key_col])


def purge_segments(
    spark, log_dir: str, keep_segments: int = 2
) -> list[int]:
    """The reference's ACTUAL retention mechanic at file-system
    granularity: memlog keeps an active + a history segment and purges
    the older one when the active fills (README.md:177-184). On the
    segment-partitioned sink (``start_ingest(segment_size=...)``),
    purge = drop the oldest ``segment=N`` directories — metadata-only,
    no rewrite.

    Returns the purged segment numbers (ascending). At 100 TB this is
    the only retention form that works: deleting directories is O(1)
    per segment regardless of data volume.
    """
    import os
    import re
    import shutil

    segs = sorted(
        int(m.group(1))
        for d in os.listdir(log_dir)
        if (m := re.fullmatch(r"segment=(\d+)", d))
    )
    doomed = segs[:-keep_segments] if keep_segments > 0 else segs
    for s in doomed:
        shutil.rmtree(os.path.join(log_dir, f"segment={s}"))
    return doomed
