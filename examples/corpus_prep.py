"""End-to-end corpus preparation: the pipeline a user of this engine
runs to turn a raw document dump into training-ready shards.

Stages (each is an independently-oracled operator — see COVERAGE.md):

 0. extraction        — markup strip (tags, entities, whitespace
                        collapse — the C4 cleanup tier, L28); every
                        later gate sees extracted text
 1. hygiene gates     — PII-free, exact-dedup keeper, benchmark-clean,
                        repetition-sane (q_pipeline_guarded's gates)
 1b. media dedup      — perceptual-hash blocking over the docs' image
                        payloads (L22): one keeper per identical
                        phash. The documents table carries no real
                        media column, so the payloads here are the
                        synthesized real-PNG cell images — the wiring
                        (decode → 8-byte key → keeper semi-join) is
                        exactly what a corpus with a binary media
                        column runs.
 2. boilerplate scrub — cut segments shared verbatim across docs (L16)
 3. scoring           — bigram-LM quality + DSIR importance (L17/L20)
 3b. distillation     — logistic classifier over feature-hashed
                        embeddings trained to reproduce the LM gate
                        (L34 ∘ L19, the CCNet/FastText pattern);
                        agreement rate reported in the summary
 4. selection         — score floors + TEMPERATURE mixing gate
                        (L13'/L21): per-language rates derived
                        in-plan from the corpus's own stratum sizes
                        (kept mass ∝ sqrt(n), half-corpus budget —
                        the q_dataset_mix_temp machinery), COMPOSED
                        (r10) with the corpus-relative quality-
                        PERCENTILE gate (L43: in-plan threshold from
                        the binned quality cells — tracks crawl
                        drift where the absolute LM floor cannot)
                        and an n-gram NOVELTY diversity signal (L41:
                        drop docs whose every shingle already exists
                        elsewhere in the corpus); per-lang kept
                        counts reported in the summary at both the
                        mixing and the final-selection boundary
 4b. semantic diversity — SemDeDup over trained k-means cells
                        (L18'/L36): inside each cell of a model
                        trained ON THE SELECTED DOCS' hash-embedded
                        features, drop every doc a smaller-id doc
                        covers at high cosine — the near-duplicate
                        basins the exact/media dedups can't see
 5. order + pack      — reproducible shuffle (L25), sequence packing
                        into token-budgeted packs (L14)
 6. write             — parquet partitioned by (lang, pack_id)

Run:  python examples/corpus_prep.py [sf_dir] [out_dir]

Everything is one Catalyst plan per stage boundary; nothing collects
data-proportional state to the driver. On a cluster the same script
runs unchanged — the operators' scale postures are in SCALE.md.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from vsphere_event_streaming_spark.functions.dedup import (  # noqa: E402
    contamination_report,
    exact_dedup_keepers,
    novelty_per_doc,
)
from vsphere_event_streaming_spark.state import release_cached  # noqa: E402
from vsphere_event_streaming_spark.functions.sketches import (  # noqa: E402
    percentile_threshold_cell,
    quantile_bucket,
)
from vsphere_event_streaming_spark.functions.multimodal import (  # noqa: E402
    synth_cell_png_phash,
)
from vsphere_event_streaming_spark.functions.sampling import (  # noqa: E402
    corpus_split,
    pack_sequences,
    temperature_sample,
)
from vsphere_event_streaming_spark.functions.text import (  # noqa: E402
    bigram_lm_scores,
    boilerplate_scrub,
    hash_embed,
    importance_weights,
    md5_hash,
    pii_counts,
    quality_score,
    repetition_profile,
    strip_markup,
)
from vsphere_event_streaming_spark.functions.classifier import (  # noqa: E402
    logreg_score,
    train_logreg,
)
from vsphere_event_streaming_spark.log.model import (  # noqa: E402
    assign_offsets,
)
from vsphere_event_streaming_spark.functions.bpe import (  # noqa: E402
    bpe_token_counts,
    learn_bpe,
    word_vocab,
)
from vsphere_event_streaming_spark.queries.pipeline_queries import (  # noqa: E402
    BPE_PACK_BUDGET,
    DSIR_TARGET_SOURCE,
    QG_BUCKETS,
    QG_WIDTH,
    SELECT_MIN_LOGP,
    SELECT_MIN_LOGW,
    SHUFFLE_SEED,
    SPLIT_FRACTIONS,
    SPLIT_LEAK_THRESHOLD,
    SPLIT_SEED,
    TEMP_MIX_SEED,
    corpus_card,
)
from vsphere_event_streaming_spark.session import get_spark, tune  # noqa: E402
from vsphere_event_streaming_spark.tables import load, spread  # noqa: E402

#: Selection-stage percentile for the corpus-relative quality gate:
#: drop the scrubbed corpus's own bottom quartile of quality_score
#: (q_quality_gate's QG_PCT=0.75 is a monitor-grade keep-the-top-
#: quartile cut; a selection stage composes with the LM floor, so a
#: gentler corpus-relative bar is the right default).
SELECT_QUALITY_PCT = 0.25


def prepare_corpus(spark, sf_dir: str, out_dir: str) -> dict:
    """Run the full preparation pipeline; returns summary counts."""
    tune(spark)
    raw = spread(load(spark, sf_dir, "documents"))

    # -- 0. extraction: markup strip before every other gate --------------
    docs = raw.withColumn("text", strip_markup(F.col("text"))).filter(
        F.length(F.col("text")) > 0
    )

    # -- 1. hygiene gates ------------------------------------------------
    counts = pii_counts(F.col("text"))
    pii_total = counts["email"] + counts["phone"] + counts["ipv4"]
    keepers = exact_dedup_keepers(docs).select(
        F.col("keeper_id").alias("doc_id")
    )
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    contaminated = (
        contamination_report(docs, bench, threshold=0.5)
        .filter(F.col("contaminated") == 1)
        .select(F.col("id").alias("doc_id"))
    )
    rep = repetition_profile(docs).select(
        F.col("id").alias("doc_id"), "max_freq_ratio"
    )
    clean = (
        docs.filter(pii_total == 0)
        .join(keepers, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
        .join(rep, "doc_id")
        .filter(F.col("max_freq_ratio") <= 0.2)
        .drop("max_freq_ratio")
    )

    # -- 1b. media dedup: one keeper per perceptual hash ------------------
    # phash is an 8-byte shuffle key; the payloads never move after the
    # map stage that hashes them
    media_keepers = (
        synth_cell_png_phash(clean, "doc_id", "text")  # fused r14
        .groupBy("phash")
        .agg(F.min("media_id").alias("doc_id"))
        .select("doc_id")
    )
    clean = clean.join(media_keepers, "doc_id", "left_semi")

    # -- 2. boilerplate scrub -------------------------------------------
    scrubbed = (
        clean.join(
            boilerplate_scrub(clean).select("doc_id", "clean_text"),
            "doc_id",
        )
        .drop("text")
        .withColumnRenamed("clean_text", "text")
        .filter(F.length(F.col("text")) > 0)
    )

    # -- 3 + 4. scoring + selection -------------------------------------
    # persist the scrubbed frame: the two scoring models, the mixing
    # gate, and the hygiene count below all read it — without the
    # persist each consumer re-runs the gates + scrub DAG
    scrubbed = scrubbed.persist()
    lm = bigram_lm_scores(scrubbed).select("doc_id", "avg_logp")
    iw = importance_weights(scrubbed, DSIR_TARGET_SOURCE)

    # -- 3b. distill the LM gate into a linear scorer (L34) -------------
    # The CCNet/FastText pattern: the expensive scorer (here the
    # bigram LM) labels a training set; a logistic classifier over
    # feature-hashed embeddings (L19) learns to reproduce the gate, so
    # at crawl scale the cheap per-row fold scores everything while
    # the teacher only ever scores a sample. Reported as an agreement
    # rate; a production pipeline would gate unseen batches with it
    # (the streaming serve path, streaming/model_stream.py).
    feats = hash_embed(scrubbed).join(
        lm.select(
            "doc_id",
            (F.col("avg_logp") >= F.lit(SELECT_MIN_LOGP))
            .cast("int")
            .alias("label"),
        ),
        "doc_id",
    )
    w = train_logreg(
        feats, positive_label=1, iters=8, lr_num=3, lr_den=1, pos_weight=2
    )
    distill_agreement = (
        feats.select(
            (
                (logreg_score(F.col("embedding"), w) >= 0.5).cast("int")
                == F.col("label")
            )
            .cast("double")
            .alias("ok")
        )
        .agg(F.avg("ok").alias("a"))
        .first()["a"]
    )
    # -- 4. selection: temperature mixing + score floors + the two
    #       corpus-relative gates (r10, VERDICT_r9 #4) ------------------
    # r9 (VERDICT_r8 #6): the mixing rates are DERIVED IN-PLAN from the
    # scrubbed corpus's own language sizes (kept mass ∝ sqrt(n), budget
    # half the corpus — functions/sampling.py::temperature_rates, the
    # exact machinery q_dataset_mix_temp oracles), replacing the fixed
    # MIX_RATES table the pipeline shipped with through r8.
    # localCheckpoint, not persist (the stage-4b lesson): the gate's
    # plan embeds the rate aggregates on top of the whole scrub DAG,
    # and the downstream Lloyd's loop re-plans its input per
    # iteration — untruncated, the repeated giant plans OOM the heap
    mixed = temperature_sample(scrubbed, TEMP_MIX_SEED).localCheckpoint(
        eager=True
    )
    mix_kept_by_lang = {
        r["lang"]: r["kept"]
        for r in mixed.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("kept"))
        .collect()
    }
    # quality-PERCENTILE gate (L43, q_quality_gate's machinery via the
    # shared percentile_threshold_cell): drop the scrubbed corpus's
    # own bottom SELECT_QUALITY_PCT of quality — composed WITH the
    # absolute LM floor below, so selection holds both an external
    # bar (the LM floor the distilled classifier reproduces) and a
    # corpus-relative one that tracks crawl drift
    scored_q = scrubbed.select(
        "doc_id", quality_score(F.col("text")).alias("q")
    ).withColumn("qb", quantile_bucket(F.col("q"), QG_WIDTH, QG_BUCKETS))
    q_thr = percentile_threshold_cell(
        scored_q.groupBy("qb").agg(F.count(F.lit(1)).alias("cnt")),
        SELECT_QUALITY_PCT,
    )
    quality_kept = (
        scored_q.join(F.broadcast(q_thr))
        .filter(F.col("qb") > F.col("t"))
        .select("doc_id")
    )
    # n-gram novelty as a DIVERSITY signal (L41, the shared
    # novelty_per_doc): a doc with ≥1 shingle but ZERO novel shingles
    # is assembled entirely from text the corpus already has
    # (boilerplate residue, template spam) — drop it; short docs
    # (no shingles) carry no evidence and pass
    diverse = novelty_per_doc(scrubbed).filter(
        (F.col("n_shingles") == 0) | (F.col("novelty") > 0)
    ).select("doc_id")
    floored = (
        mixed
        .join(lm, "doc_id")
        .join(iw, "doc_id")
        .filter(
            (F.col("avg_logp") >= F.lit(SELECT_MIN_LOGP))
            & (F.col("logw") >= F.lit(SELECT_MIN_LOGW))
        )
        .select("doc_id", "text", "lang", "source")
        .persist()
    )
    n_floored = floored.count()
    after_quality = floored.join(
        quality_kept, "doc_id", "left_semi"
    ).persist()
    quality_gate_dropped = n_floored - after_quality.count()
    # localCheckpoint, not persist (the stage-4 lesson, re-measured
    # r10): with the two new gates the selected frame's lineage
    # stacks the quality-cell window + the novelty shingle aggregates
    # on the whole scrub DAG, and downstream it feeds BOTH the
    # Lloyd's loop and the BPE-training collect — untruncated, the
    # repeated giant plans OOM the driver heap
    selected = after_quality.join(
        diverse, "doc_id", "left_semi"
    ).localCheckpoint(eager=True)
    novelty_dropped = (
        n_floored - quality_gate_dropped - selected.count()
    )
    floored.unpersist()
    after_quality.unpersist()

    # -- 4b. semantic diversity: SemDeDup over trained cells (L18') --------
    # The r8 tier composed in: cluster the SELECTED docs' feature-hash
    # embeddings with a k-means model trained on exactly those docs,
    # then inside each cell drop every doc a smaller-id doc covers at
    # cosine >= 0.95 (hash embeddings of near-identical text are
    # near-parallel; the high cut targets residual near-dups, not
    # topical neighbors). Same min-id dominance rule as
    # q_dedup_semantic_cells.
    from vsphere_event_streaming_spark.functions.kmeans import (
        kmeans_assign,
        train_kmeans,
    )
    from vsphere_event_streaming_spark.functions.vectors import cosine

    # localCheckpoint, not persist: the features' logical plan embeds
    # the whole upstream pipeline, and Lloyd's re-plans its input once
    # per iteration — without truncating the lineage here the repeated
    # giant plans OOM the driver heap (measured), while a checkpoint
    # makes every training plan start from the materialized frame
    sel_feats = (
        feats.select("doc_id", "embedding")
        .join(selected.select("doc_id"), "doc_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    # corpus-scaled k (VERDICT_r8 #5): cells average SEM_CELL_TARGET
    # docs at any corpus size, same knob as q_dedup_semantic_cells
    from vsphere_event_streaming_spark.queries.model_queries import _sem_k

    cm_cells = train_kmeans(
        sel_feats, k=_sem_k(sel_feats.count()), iters=2, id_col="doc_id"
    )
    assigned = sel_feats.select(
        "doc_id",
        "embedding",
        kmeans_assign(F.col("embedding"), cm_cells).alias("cid"),
    ).persist()
    a_side = assigned.select(
        F.col("doc_id").alias("__ida"),
        F.col("embedding").alias("__va"),
        "cid",
    )
    b_side = assigned.select(
        F.col("doc_id").alias("__idb"),
        F.col("embedding").alias("__vb"),
        "cid",
    )
    sem_redundant = (
        a_side.join(b_side, "cid")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(cosine(F.col("__va"), F.col("__vb")) >= F.lit(0.95))
        .select(F.col("__idb").alias("doc_id"))
        .distinct()
    )
    n_before_sem = selected.count()
    selected = selected.join(
        sem_redundant, "doc_id", "left_anti"
    ).persist()
    semantic_dropped = n_before_sem - selected.count()
    assigned.unpersist()

    # -- 5. order + pack -------------------------------------------------
    # reproducible training shuffle (L25): dense position in the
    # seed-keyed md5 order, via the two-phase range rank; packing then
    # consumes the SHUFFLED order, so changing SHUFFLE_SEED reshuffles
    # the packs deterministically
    shuffled = assign_offsets(
        selected.withColumn(
            "skey",
            md5_hash(F.concat(F.lit(f"{SHUFFLE_SEED}:"), F.col("doc_id"))),
        ),
        order_by=["skey", "doc_id"],
        offset_col="shuffle_pos",
        start=0,
    ).drop("skey")
    # persisted for the same reason as scrubbed/selected: BPE training,
    # token counting (twice inside bpe_token_counts), the counted join,
    # and the step-6 shuffle_pos join all consume the ranked frame —
    # unpersisted, each re-runs the two-phase rank window
    shuffled = shuffled.persist()
    # the packing budget is metered in TRAINED-subword tokens (L32 ∘
    # L14, q_pack_bpe's shape): train the merge table on the selected
    # corpus, count each doc's BPE tokens, pack on those — the budget
    # a real training pipeline meters, not whitespace words
    merges = learn_bpe(word_vocab(shuffled))
    counted = shuffled.join(
        bpe_token_counts(shuffled, merges).select("doc_id", "bpe_tokens"),
        "doc_id",
    )
    packed = pack_sequences(
        counted,
        BPE_PACK_BUDGET,
        order_col="shuffle_pos",
        n_tokens_col="bpe_tokens",
    )

    # -- 6. write shards -------------------------------------------------
    (
        packed.join(
            shuffled.select("doc_id", "shuffle_pos"), "shuffle_pos"
        )
        .join(selected.select("doc_id", "text"), "doc_id")
        .write.mode("overwrite")
        .partitionBy("lang", "pack_id")
        .parquet(out_dir)
    )
    out = spark.read.parquet(out_dir)

    # -- 7. release-split leakage audit (r12) -----------------------------
    # the figure a release publishes next to the dataset card: split
    # the SELECTED corpus (the released artifact) train/val/test and
    # score every eval doc's shingle overlap against train — the
    # q_split_leakage machinery; the selection stages upstream
    # (exact + semantic dedup) are exactly what should make this ~0
    split_sel = corpus_split(
        selected.select("doc_id", "text"), SPLIT_FRACTIONS, seed=SPLIT_SEED
    )
    leak_row = (
        contamination_report(
            split_sel.filter(F.col("split") != "train"),
            split_sel.filter(F.col("split") == "train"),
            threshold=SPLIT_LEAK_THRESHOLD,
        )
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum("contaminated").alias("n_leaked"),
        )
        .first()
    )

    summary = {
        "input_docs": docs.count(),
        "after_hygiene": scrubbed.count(),
        "mix_kept_by_lang": mix_kept_by_lang,
        "mix_kept": sum(mix_kept_by_lang.values()),
        "quality_gate_dropped": quality_gate_dropped,
        "novelty_dropped": novelty_dropped,
        "selected": selected.count(),
        "selected_by_lang": {
            r["lang"]: r["kept"]
            for r in selected.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("kept"))
            .collect()
        },
        "semantic_dropped": semantic_dropped,
        "distill_agreement": round(distill_agreement, 3),
        "packs": out.select("lang", "pack_id").distinct().count(),
        "written_docs": out.count(),
        # release-split hygiene (r12): eval docs in the released
        # split, and how many of them leak >= 50% of their shingles
        # from train (q_split_leakage's threshold)
        "split_eval_docs": leak_row["n_eval"],
        "split_leaked_eval_docs": int(leak_row["n_leaked"] or 0),
        # the dataset card of the SELECTED corpus — the exact
        # q_corpus_card aggregate (shared corpus_card helper), i.e.
        # the per-language stats block this run would publish
        "dataset_card": {
            r["lang"]: {
                "n_docs": r["n_docs"],
                "n_tokens": r["n_tokens"],
                "mean_tokens": r["mean_tokens"],
                "dup_rate": r["dup_rate"],
            }
            for r in corpus_card(
                selected.select("lang", "text")
            ).collect()
        },
    }
    scrubbed.unpersist()
    selected.unpersist()
    shuffled.unpersist()
    release_cached()
    return summary


if __name__ == "__main__":
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/corpus_prep_out"
    spark = get_spark("corpus-prep")
    print(prepare_corpus(spark, sf_dir, out_dir))
