"""Live-corpus monitoring: the serve-over-a-growing-corpus topology.

Where ``corpus_prep.py`` is the batch pipeline (turn a dump into
training shards), this example is the MONITOR a crawl runs while the
corpus is still growing: document batches arrive as a parquet file
stream, ONE ``foreachBatch`` pass feeds four incremental store
families per epoch — each an idempotent ``batch_id=`` cell partition,
each readable at any time, each bit-identical to its batch operator
over everything ingested (the per-family parity proofs live in
``tests/test_streaming.py``):

 - ``ExactDedupStore``   — duplicate pressure (keepers / copies)
 - ``ShingleDfStore``    — per-doc n-gram novelty (diversity drift)
 - ``TermStatsStore``    — BM25 corpus stats (hybrid-retrieval serve)
 - ``QuantileCellStore`` — per-language quality-score distribution
 - ``LshIndex`` → ``GroupStore`` (r13) — the full incremental
                           near-dup pipeline: each epoch bands
                           against history, its verified pairs merge
                           into stored connected-component GROUP
                           labels — keep-one-per-group decisions
                           without ever recomputing history (the
                           second min-lattice family: overlapping
                           pair ingest converges)

The event log streams in the same way (r10): a second foreachBatch
pass feeds three more families per epoch —

 - ``RateCellStore``     — per-(type, bucket) rate cells; the anomaly
                           table reads off the merged cells,
                           bit-identical to batch q_events_anomaly
 - ``CmsStore``          — fixed-memory event-type frequency sketch
 - ``ActivityStore``     — distinct (user, day) activity rows (r11);
                           the cohort-retention table reads off the
                           merged rows, bit-identical to batch
                           q_events_retention — set-union, safe even
                           under overlapping ingest
 - ``HllStore`` (r13)    — per-day distinct-user registers (the
                           fixed-memory DAU sketch, q_sketch_hll's
                           incremental form); max-lattice merge, also
                           overlap-safe; the report prints the latest
                           day's HLL estimate beside the exact DAU

and the embedding stream scores through the FROZEN quality classifier
into the model-ops family (r11) and grows the ANN serving index (r12):

 - ``AucCellStore``      — ≤n_buckets additive (bin, cpos, cneg)
                           cells; the running corpus AUC reads off
                           the merged cells, bit-identical to the
                           batch binned AUC over everything ingested
 - ``MrlStore``          — the Matryoshka prefix-column serving
                           index grows with every embedding epoch
                           (pure per-row projection, no retraining);
                           the report probes the live index

The report then reads every store (ELEVEN families, no recomputation
of history anywhere) and prints one JSON summary — the dashboard
numbers a curation team watches between training runs.

Run:  python examples/corpus_monitor.py [sf_dir] [work_dir]

Nothing here collects data-proportional state to the driver; at crawl
scale the same script runs against the real file stream unchanged —
per-epoch store state is vocabulary/cell-bounded, never per-row.

Batch-overlap contract (SCALE.md store-family section): every store
fed here is count-additive, so the file stream must deliver each
document/event exactly once ACROSS batches — a replayed epoch is safe
(idempotent ``batch_id=`` overwrite) but the same rows re-ingested
under a NEW batch_id double-count; only the lattice-merge families
(``ActivityStore``, ``BloomStore`` — set-union; ``GroupStore`` —
min-label) tolerate overlapping ingest.
"""

from __future__ import annotations

import json
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from vsphere_event_streaming_spark.functions.dedup import (  # noqa: E402
    ExactDedupStore,
    GroupStore,
    LshIndex,
    ShingleDfStore,
    verify_candidate_pairs,
)
from vsphere_event_streaming_spark.state import release_cached  # noqa: E402
from vsphere_event_streaming_spark.functions.classifier import (  # noqa: E402
    AucCellStore,
    train_logreg,
)
from vsphere_event_streaming_spark.functions.sketches import (  # noqa: E402
    ActivityStore,
    CmsStore,
    HllStore,
    QuantileCellStore,
    RateCellStore,
)
from vsphere_event_streaming_spark.functions.text import (  # noqa: E402
    TermStatsStore,
    quality_score,
)
from vsphere_event_streaming_spark.queries.pipeline_queries import (  # noqa: E402
    QG_BUCKETS,
    QG_WIDTH,
)
from vsphere_event_streaming_spark.session import get_spark, tune  # noqa: E402
from vsphere_event_streaming_spark.functions.vectors import (  # noqa: E402
    MrlStore,
    min_id_query_split,
)
from vsphere_event_streaming_spark.streaming.model_stream import (  # noqa: E402
    start_incremental_auc_cells,
    start_incremental_mrl,
)
from vsphere_event_streaming_spark.tables import load  # noqa: E402


def monitor_corpus(spark, sf_dir: str, work_dir: str) -> dict:
    """Ingest the corpus as a 3-epoch file stream into the document
    store families (and the event log into the rate/frequency
    families), then read every store for the monitoring summary."""
    tune(spark)
    # the example OWNS work_dir — start clean: a stale checkpoint
    # plus rewritten input files (new part-file names) would ingest
    # the same docs as new epochs and double every store
    import shutil

    shutil.rmtree(work_dir, ignore_errors=True)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )

    # --- arrange the "arriving crawl": one parquet dir per epoch ----
    in_dir = f"{work_dir}/incoming"
    for b in range(3):
        docs.filter(F.col("doc_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{in_dir}/part{b}")

    exact = ExactDedupStore(spark, f"{work_dir}/exact")
    shingle = ShingleDfStore(spark, f"{work_dir}/shingle")
    terms = TermStatsStore(spark, f"{work_dir}/terms")
    # quality scores live in [0, 1): use the L43 gate's power-of-two
    # grid (1/256 cells), not the default events-value grid
    quant = QuantileCellStore(
        spark,
        f"{work_dir}/quality",
        value_col="q",
        group_col="lang",
        width=QG_WIDTH,
        n_buckets=QG_BUCKETS,
    )

    lsh = LshIndex(spark, f"{work_dir}/lsh")
    groups = GroupStore(spark, f"{work_dir}/groups")

    # --- ONE pass per epoch feeds all five document stores -----------
    def process(batch_df, epoch_id: int) -> None:
        bid = f"m{epoch_id}"
        exact.add_batch(batch_df, bid)
        shingle.add_batch(batch_df, bid)
        terms.add_batch(batch_df, bid)
        quant.add_batch(
            batch_df.select(
                "lang", quality_score(F.col("text")).alias("q")
            ),
            bid,
        )
        # incremental near-dup GROUPS (r13): band the epoch against
        # history, re-score the candidates exactly (the semi-join
        # inside verify touches candidate docs only), merge the
        # verified pairs into the stored component labels
        cands = lsh.add_batch(batch_df, batch_id=bid)
        verified = verify_candidate_pairs(cands, docs, threshold=0.5)
        groups.add_batch(verified, bid)
        release_cached()

    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)  # one epoch per batch dir
        .parquet(in_dir + "/part*")
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{work_dir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # --- the event log streams the same way into three more stores ---
    events = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "user_id"
    )
    ev_dir = f"{work_dir}/incoming_events"
    for b in range(3):
        events.filter(F.col("event_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{ev_dir}/part{b}")
    rate = RateCellStore(spark, f"{work_dir}/rate")
    cms = CmsStore(spark, f"{work_dir}/cms", key_col="event_type")
    activity = ActivityStore(spark, f"{work_dir}/activity")
    hll = HllStore(spark, f"{work_dir}/hll", "user_id", ["d"])

    def process_events(batch_df, epoch_id: int) -> None:
        bid = f"e{epoch_id}"
        rate.add_batch(batch_df, bid)
        cms.add_batch(batch_df, bid)
        activity.add_batch(batch_df, bid)
        # fixed-memory DAU registers (r13, max-lattice — the one
        # events family that would stay ≤256 rows/day at any user
        # count; the exact ActivityStore row set grows with users)
        hll.add_batch(
            batch_df.filter(
                F.col("ts").isNotNull() & F.col("user_id").isNotNull()
            ).select(
                F.floor(
                    F.unix_micros("ts") / F.lit(86_400_000_000.0)
                )
                .cast("long")
                .alias("d"),
                "user_id",
            ),
            bid,
        )

    ev_stream = (
        spark.readStream.schema(
            "event_id long, event_type string, ts timestamp,"
            " user_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(ev_dir + "/part*")
    )
    qe = (
        ev_stream.writeStream.foreachBatch(process_events)
        .option("checkpointLocation", f"{work_dir}/ckpt_events")
        .trigger(availableNow=True)
        .start()
    )
    qe.awaitTermination(300)

    # --- model-ops: embeddings score through the FROZEN classifier ---
    # (weights come from the last offline training run; here the run
    # happens inline so the example is self-contained)
    emb = load(spark, sf_dir, "embeddings")
    w_micro = train_logreg(emb, iters=4, lr_num=3, lr_den=1, pos_weight=9)
    emb_dir = f"{work_dir}/incoming_emb"
    for b in range(3):
        emb.filter(F.col("vec_id") % 3 == b).write.mode(
            "overwrite"
        ).parquet(f"{emb_dir}/part{b}")
    qa = start_incremental_auc_cells(
        spark,
        emb_dir + "/part*",
        f"{work_dir}/auc",
        f"{work_dir}/ckpt_auc",
        w_micro=w_micro,
        max_files_per_trigger=1,
    )
    qa.awaitTermination(300)
    auc_store = AucCellStore(spark, f"{work_dir}/auc")

    # ... and the SAME embedding epochs grow the ANN serving index
    # (MrlStore, r12): a pure per-row prefix projection per epoch —
    # the index a retrieval service reads is never rebuilt, it just
    # gains partitions as the corpus grows
    qm = start_incremental_mrl(
        spark,
        emb_dir + "/part*",
        f"{work_dir}/mrl",
        f"{work_dir}/ckpt_mrl",
        prefix_len=32,
        max_files_per_trigger=1,
    )
    qm.awaitTermination(300)
    mrl_store = MrlStore(spark, f"{work_dir}/mrl", 32)

    # --- read the stores (no history recomputation) ------------------
    n_docs = docs.count()
    keep = exact.keepers().agg(
        F.count(F.lit(1)).alias("groups"),
        F.max("copies").alias("max_copies"),
    ).first()
    nov = shingle.novelty(docs).agg(
        F.round(F.avg("novelty"), 6).alias("mean_novelty"),
        F.sum(
            ((F.col("n_shingles") > 0) & (F.col("n_novel") == 0)).cast(
                "long"
            )
        ).alias("zero_novelty_docs"),
    ).first()
    quality_by_lang = {
        r["lang"]: r["p50_bin"]
        for r in quant.quantiles().select("lang", "p50_bin").collect()
    }
    top = [
        (r["doc_id"], r["score"])
        for r in terms.bm25(docs)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
        .collect()
    ]
    # anomalies read off the MERGED rate cells (bit-identical to the
    # batch q_events_anomaly by cell additivity — the parity pytest)
    anomalies = rate.anomalies().filter(F.col("is_anomaly")).count()
    # fixed-memory frequency estimates for every type the rate cells
    # saw (a bounded key set — never a vocabulary collect)
    type_freq_est = {
        r["event_type"]: cms.estimate(r["event_type"])
        for r in rate.cells().select("event_type").distinct().collect()
    }
    # cohort retention off the merged activity rows (set-union family;
    # bit-identical to batch q_events_retention — the parity pytest):
    # the dashboard figure is overall day-1 return rate + cohort count
    ret = activity.retention()
    ret_row = ret.agg(
        F.countDistinct("cohort_day_us").alias("n_cohorts"),
        F.sum(
            F.when(F.col("day_offset") == 0, F.col("n_users"))
        ).alias("d0"),
        F.sum(
            F.when(F.col("day_offset") == 1, F.col("n_users"))
        ).alias("d1"),
    ).first()
    day1_rate = round(
        (ret_row["d1"] or 0) / ret_row["d0"], 6
    ) if ret_row["d0"] else None
    # running corpus AUC off the merged (bin, cpos, cneg) cells
    running_auc = auc_store.auc().first()["auc"]
    # live ANN probe off the growing Matryoshka index: the min-id
    # vector's nearest NON-SELF neighbor (stage 1 reads prefixes
    # only). The store ingested every epoch including the query's own
    # row, so k=1 would always return the query itself at cosine 1.0
    # (ADVICE r12) — probe k=2 and drop the query id
    qid = emb.agg(F.min("vec_id")).first()[0]
    ann = next(
        r
        for r in mrl_store.search(min_id_query_split(emb)[0], k=2)
        .collect()
        if r["vec_id"] != qid
    )
    # DAU/WAU stickiness off the same merged activity rows (r11):
    # latest observed day's ratio — the dashboard's headline number
    latest = (
        activity.stickiness()
        .orderBy(F.col("day_us").desc())
        .limit(1)
        .first()
    )
    # fixed-memory DAU estimate for the SAME latest day the exact
    # stickiness block reports (r13): the HLL registers' answer next
    # to the exact one — the drift a dashboard watches before
    # trusting the sketch at a scale where exact is unaffordable
    latest_hll = (
        hll.estimates()
        .orderBy(F.col("d").desc())
        .limit(1)
        .first()
    )
    # near-dup GROUP pressure off the merged component labels (r13):
    # how many transitive dup clusters exist and how big the worst
    # one is — the keep-one-per-group deletion forecast
    grp = groups.labels().agg(
        F.countDistinct("group_id").alias("n_groups"),
        F.count(F.lit(1)).alias("grouped_docs"),
    ).first()
    worst = (
        groups.group_sizes()
        .orderBy(F.col("group_size").desc())
        .limit(1)
        .first()
    )
    summary = {
        "ingested_docs": n_docs,
        "distinct_texts": keep["groups"],
        "dup_rate": round(1.0 - keep["groups"] / n_docs, 6),
        "max_copies": keep["max_copies"],
        "mean_novelty": nov["mean_novelty"],
        "zero_novelty_docs": nov["zero_novelty_docs"],
        "quality_p50_by_lang": quality_by_lang,
        "bm25_top10": top,
        "event_rate_anomalies": anomalies,
        "event_type_freq_est": type_freq_est,
        "retention_cohorts": ret_row["n_cohorts"],
        "retention_day1_rate": day1_rate,
        "running_auc": running_auc,
        "ann_top1_id": ann["vec_id"],
        "ann_top1_score": ann["score"],
        "latest_dau": latest["dau"],
        "latest_stickiness": latest["stickiness"],
        "latest_dau_hll": latest_hll["est_distinct"],
        "neardup_groups": grp["n_groups"],
        "neardup_grouped_docs": grp["grouped_docs"],
        "neardup_max_group": worst["group_size"] if worst else 0,
    }
    release_cached()  # the novelty read path persists shingle arrays
    return summary


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/corpus_monitor"
    spark = get_spark("corpus-monitor")
    print(json.dumps(monitor_corpus(spark, sf_dir, work_dir)))
