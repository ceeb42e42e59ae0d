"""Throughput of the streaming incremental near-dup pipeline.

Feeds the documents table to ``start_incremental_dedup`` in ``chunks``
file-batches (maxFilesPerTrigger=1, so each is its own checkpointed
epoch banding against the growing index) and reports docs/sec through
the full candidate-emit + index-ingest path, the final candidate
count, and PARITY against a single batch ``lsh_candidate_pairs`` run
over the same corpus (the union of per-epoch new↔history ∪ new↔new
candidates must equal the all-at-once band collisions, exactly).

``replicate`` scales the corpus: replica k>0 suffixes every word with
``x{k}``, so every shingle hash differs and cross-replica docs are
never near-dups — 10× docs carries ~10× true pairs (the realistic
scaling shape), instead of the quadratic candidate explosion identical
copies would fake. (VERDICT_r4 #7: the 10× probe for the L12 tier.)

Usage: python tools/bench_dedup_stream.py [sf_dir] [chunks] [replicate]
Prints one JSON line; exits nonzero if the stream did not finish or
stream/batch candidates diverge.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from vsphere_event_streaming_spark.functions.dedup import (  # noqa: E402
    lsh_candidate_pairs,
)
from vsphere_event_streaming_spark.state import release_cached  # noqa: E402
from vsphere_event_streaming_spark.session import get_spark  # noqa: E402
from vsphere_event_streaming_spark.streaming.dedup_stream import (  # noqa: E402
    read_candidate_pairs,
    start_incremental_dedup,
)
from vsphere_event_streaming_spark.tables import load  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    replicate = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    spark = get_spark("bench-dedup-stream")
    spark.sparkContext.setLogLevel("ERROR")

    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    if replicate > 1:
        id_space = (base.agg(F.max("doc_id")).first()[0] or 0) + 1
        parts = [base]
        for k in range(1, replicate):
            parts.append(
                base.select(
                    (F.col("doc_id") + k * id_space).alias("doc_id"),
                    F.regexp_replace(
                        "text", r"(\S+)", f"$1x{k}"
                    ).alias("text"),
                )
            )
        docs = parts[0]
        for p in parts[1:]:
            docs = docs.unionByName(p)
    else:
        docs = base
    n_docs = docs.count()
    work = tempfile.mkdtemp(prefix="dedup_stream_bench_")
    in_dir = f"{work}/in"
    try:
        # pmod + coalesce: NULL or negative doc_ids still land in a
        # chunk, so every counted doc is streamed and the candidate
        # count stays comparable to a batch run over the full table
        chunk = F.coalesce(
            F.pmod(F.col("doc_id"), F.lit(chunks)), F.lit(0)
        )
        for i in range(chunks):
            docs.filter(chunk == i).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)

        t0 = time.perf_counter()
        sq = start_incremental_dedup(
            spark,
            in_dir,
            f"{work}/idx",
            f"{work}/pairs",
            f"{work}/ckpt",
            max_files_per_trigger=1,
        )
        finished = sq.awaitTermination(600)
        elapsed = time.perf_counter() - t0
        if not finished:
            sq.stop()
            print(
                json.dumps(
                    {"error": "stream did not finish within 600s"}
                ),
                file=sys.stderr,
            )
            sys.exit(1)
        stream_pairs = (
            read_candidate_pairs(spark, f"{work}/pairs")
            .select("id_a", "id_b")
            .distinct()
        )
        n_pairs = stream_pairs.count()
        # parity vs the all-at-once batch banding over the same corpus
        batch_pairs = (
            lsh_candidate_pairs(docs).select("id_a", "id_b").distinct()
        )
        n_batch = batch_pairs.count()
        missing = batch_pairs.exceptAll(stream_pairs).count()
        extra = stream_pairs.exceptAll(batch_pairs).count()
        release_cached()
        parity = missing == 0 and extra == 0
        print(
            json.dumps(
                {
                    "metric": "dedup_stream_docs_per_sec",
                    "value": round(n_docs / elapsed, 1),
                    "unit": "docs/sec",
                    "docs": n_docs,
                    "chunks": chunks,
                    "replicate": replicate,
                    "elapsed_sec": round(elapsed, 2),
                    "candidate_pairs": n_pairs,
                    "batch_pairs": n_batch,
                    "parity": parity,
                    "sf_dir": sf_dir,
                }
            )
        )
        if not parity:
            print(
                json.dumps(
                    {
                        "error": "stream/batch candidate divergence",
                        "missing_from_stream": missing,
                        "extra_in_stream": extra,
                    }
                ),
                file=sys.stderr,
            )
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
