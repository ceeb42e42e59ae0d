"""LLM-pipeline operator tests (dedup / vectors / text / multimodal)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vsphere_event_streaming_spark.functions.dedup import (
    exact_dedup_keepers,
    jaccard_pairs,
    lsh_candidate_pairs,
    simhash16,
)
from vsphere_event_streaming_spark.functions.multimodal import (
    attach_payload,
    decode_image,
    extract_metadata,
)
from vsphere_event_streaming_spark.functions.text import lang_id, rolling_hash
from vsphere_event_streaming_spark.functions.vectors import (
    cosine,
    deterministic_centroids,
    ivf_topk,
    knn_topk,
)
from vsphere_event_streaming_spark.tables import load


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different content about spark engines"),
        (3, "The  quick brown fox jumps over the lazy dog"),  # exact dup of 0 (normalized)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_normalizes(spark):
    out = exact_dedup_keepers(_docs(spark)).collect()
    keepers = {r["keeper_id"]: r["copies"] for r in out}
    assert keepers[0] == 2  # docs 0 and 3 collapse
    assert keepers[1] == 1 and keepers[2] == 1


def test_jaccard_finds_planted_near_dup(spark):
    pairs = jaccard_pairs(_docs(spark), threshold=0.5).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 1) in ids and (0, 3) in ids and (1, 3) in ids
    assert not any(2 in p for p in ids)


def test_lsh_candidates_superset_of_true_dups(spark):
    """LSH recall: every true near-dup pair must be a candidate."""
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    cand = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(docs).collect()
    }
    assert true_pairs, "corpus should contain planted near-dups"
    missed = true_pairs - cand
    assert not missed, f"LSH missed true pairs: {missed}"


def test_simhash_identical_for_identical_tokens(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta gamma"), (2, "delta")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["h"] for r in df.select(
        "doc_id", simhash16(F.col("text")).alias("h")).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


def test_rolling_hash_deterministic(spark):
    df = spark.createDataFrame([("hello world",)], ["s"])
    h = df.select(rolling_hash(F.col("s")).alias("h")).first()["h"]
    assert h == 285884129  # cross-checked against DuckDB reimplementation


def test_lang_id_tie_break(spark):
    df = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "le chat et le chien"),
         (2, "xyzzy plugh")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["l"] for r in df.select(
        "doc_id", lang_id(F.col("text")).alias("l")).collect()}
    assert out[0] == "en"
    assert out[1] == "fr"
    assert out[2] == "en"  # all-zero scores → first priority wins


def test_pq_encode_null_vector_becomes_zero_row(spark):
    """A stray NULL embedding in an Arrow batch must encode as the
    zero vector's codes, not crash np.stack with a ragged-array
    ValueError (ADVICE_r10: the None substitute must be zeros(d),
    not zeros(0))."""
    from vsphere_event_streaming_spark.functions.vectors import (
        PQ_M,
        pq_encode_udf,
        pq_fit,
    )
    from vsphere_event_streaming_spark.tables import spread

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    books = pq_fit(spread(emb))
    d = len(emb.first()["embedding"])
    mixed = spark.createDataFrame(
        [(0, [0.0] * d), (1, None), (2, [1.0] + [0.0] * (d - 1))],
        f"vec_id long, embedding array<double>",
    )
    rows = {
        r["vec_id"]: r["c"]
        for r in mixed.select(
            "vec_id", pq_encode_udf(books, d)(F.col("embedding")).alias("c")
        ).collect()
    }
    assert rows[1] == rows[0]  # NULL row == explicit zero row
    assert all(len(c) == PQ_M for c in rows.values())


def test_pq_recall_determinism_and_code_shape(spark):
    """The PQ tier (q_knn_pq, r10): (1) the two-stage
    shortlist+rerank search must recover at least as much of the
    exact cosine top-10 as the IVF tier's historical floor (5/10);
    (2) training is deterministic — two fits from the same corpus
    produce bit-identical codebooks (the reproducibility contract
    every trained artifact here carries); (3) codes are PQ_M ints in
    [0, PQ_K) — the m·log2(k)-bit storage claim."""
    from vsphere_event_streaming_spark.functions.vectors import (
        PQ_K,
        PQ_M,
        knn_topk,
        min_id_query_split,
        pq_encode_udf,
        pq_fit,
        pq_topk_rerank,
    )
    from vsphere_event_streaming_spark.tables import spread

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    qvec, corpus = min_id_query_split(emb)
    exact = {r["vec_id"] for r in knn_topk(corpus, qvec, k=10).collect()}

    books = pq_fit(spread(emb))
    books2 = pq_fit(spread(emb))
    assert books == books2  # bit-identical retrain

    pq = {
        r["vec_id"]
        for r in pq_topk_rerank(corpus, qvec, books, 64, k=10).collect()
    }
    assert len(exact & pq) >= 5, (sorted(exact), sorted(pq))

    codes = (
        emb.select(pq_encode_udf(books, 64)(F.col("embedding")).alias("c"))
        .collect()
    )
    assert all(len(r["c"]) == PQ_M for r in codes)
    assert all(0 <= v < PQ_K for r in codes for v in r["c"])


def test_ivfpq_recall_pruning_and_column_pruning(spark, tmp_path):
    """The composed IVF-PQ index (q_knn_ivfpq, r10): (1) recall vs
    the exact cosine top-10 must meet the IVF floor (5/10); (2) the
    stage-1 plan must carry a PartitionFilters IN clause on
    centroid_id (only nprobe cells are read); (3) stage 1's scan
    must NOT read the raw vector column (parquet column pruning —
    the m·log2(k)-bits-per-vector I/O claim)."""
    import re

    from vsphere_event_streaming_spark.functions.kmeans import (
        kmeans_centroid_frame,
        train_kmeans,
    )
    from vsphere_event_streaming_spark.functions.vectors import (
        PQ_SHORTLIST,
        ivfpq_topk,
        min_id_query_split,
        pq_adc_udf,
        pq_fit,
        write_ivfpq_index,
    )
    from vsphere_event_streaming_spark.tables import spread

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    qvec, corpus = min_id_query_split(emb)
    exact = {r["vec_id"] for r in knn_topk(corpus, qvec, k=10).collect()}

    books = pq_fit(spread(emb))
    centroids = kmeans_centroid_frame(
        spark, train_kmeans(emb, k=8, iters=4)
    )
    path = f"{tmp_path}/ivfpq"
    write_ivfpq_index(corpus, centroids, books, 64, path)
    got = {
        r["vec_id"]
        for r in ivfpq_topk(
            spark, path, centroids, qvec, books, 64, k=10, nprobe=3
        ).collect()
    }
    assert len(exact & got) >= 5, (sorted(exact), sorted(got))

    # stage-1 plan: partition pruning + codes-only read
    adc = pq_adc_udf(books, 64)
    pruned = spark.read.parquet(path).filter(
        F.col("centroid_id").isin([0, 1, 2])
    )
    stage1 = (
        pruned.select("vec_id", "pq_codes")
        .join(F.broadcast(qvec))
        .select("vec_id", adc(F.col("pq_codes"), F.col("q")).alias("a"))
        .orderBy("a", "vec_id")
        .limit(PQ_SHORTLIST)
    )
    plan = stage1._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*centroid_id#\d+ IN \(", plan), plan
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "pq_codes" in m.group(1), plan
    assert "embedding" not in m.group(1), m.group(1)


def test_ivf_recall_vs_brute_force(spark):
    """IVF(nprobe=3) must recover most of the exact top-10 — under
    the TRAINED k-means cells q_knn_ivf now uses (VERDICT_r7 #5:
    trained recall must be at least the stand-in's historical floor)
    and under the deterministic stand-in that remains for
    reproducibility scaffolding."""
    from vsphere_event_streaming_spark.functions.kmeans import (
        kmeans_centroid_frame,
        train_kmeans,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    qmin = emb.agg(F.min("vec_id").alias("__qid"))
    qvec = emb.join(F.broadcast(qmin), emb.vec_id == F.col("__qid")).select(
        F.col("embedding").alias("q")
    )
    corpus = emb.join(F.broadcast(qmin)).filter(
        F.col("vec_id") != F.col("__qid")
    ).drop("__qid")
    exact = {r["vec_id"] for r in knn_topk(corpus, qvec, k=10).collect()}
    trained_cents = kmeans_centroid_frame(
        spark, train_kmeans(emb, k=8, iters=4)
    )
    trained = {
        r["vec_id"]
        for r in ivf_topk(
            corpus, trained_cents, qvec, k=10, nprobe=3
        ).collect()
    }
    assert len(exact & trained) >= 5, (exact, trained)
    approx = {
        r["vec_id"]
        for r in ivf_topk(
            corpus, deterministic_centroids(emb, 10), qvec, k=10, nprobe=3
        ).collect()
    }
    assert len(exact & approx) >= 5, (exact, approx)


def test_ivf_indexed_partition_pruning(spark, tmp_path):
    """Materialized IVF index: probed search matches the inline form
    and the scan prunes unprobed cell partitions."""
    import io
    from contextlib import redirect_stdout

    from vsphere_event_streaming_spark.functions.vectors import (
        ivf_topk_indexed,
        write_ivf_index,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    qmin = emb.agg(F.min("vec_id").alias("__qid"))
    qvec = emb.join(F.broadcast(qmin), emb.vec_id == F.col("__qid")).select(
        F.col("embedding").alias("q")
    )
    corpus = emb.join(F.broadcast(qmin)).filter(
        F.col("vec_id") != F.col("__qid")
    ).drop("__qid")
    cents = deterministic_centroids(emb, 10)

    idx = f"{tmp_path}/ivf"
    write_ivf_index(corpus, cents, idx)

    inline = [
        r["vec_id"]
        for r in ivf_topk(corpus, cents, qvec, k=10, nprobe=3).collect()
    ]
    indexed_df = ivf_topk_indexed(spark, idx, cents, qvec, k=10, nprobe=3)
    indexed = [r["vec_id"] for r in indexed_df.collect()]
    assert indexed == inline

    import re

    buf = io.StringIO()
    with redirect_stdout(buf):
        indexed_df.explain()
    assert re.search(
        r"PartitionFilters: \[centroid_id#\d+ IN \(", buf.getvalue()
    ), buf.getvalue()


def test_rrf_indexed_recall_and_partition_pruning(spark):
    """VERDICT_r9 #6: the index-backed hybrid retrieval
    (q_search_rrf_indexed — trained-IVF semantic ranking against a
    materialized cell-partitioned index) must (1) recover the oracled
    brute-force fused list at least as well as the sign-LSH
    MULTIPROBE alternative would on the same task — the engine's own
    approximate-ANN recall bound — and (2) actually prune: the fused
    plan's scan of the index must carry a PartitionFilters IN clause
    on centroid_id, so only nprobe cells are read."""
    import io
    import re
    from contextlib import redirect_stdout

    from vsphere_event_streaming_spark.functions.vectors import (
        hyperplane_topk_probed,
        min_id_query_split,
    )
    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        HASH_EMBED_DIM,
        RRF_DEPTH,
        _rrf_fuse,
        q_search_rrf,
        q_search_rrf_indexed,
    )
    from vsphere_event_streaming_spark.queries.advanced_queries import (
        bm25_scores,
    )
    from vsphere_event_streaming_spark.functions import text as T
    from vsphere_event_streaming_spark.tables import load, spread

    sf = "/root/testdata/sf0.001"
    brute = [r["doc_id"] for r in q_search_rrf(spark, sf).collect()]
    indexed_df = q_search_rrf_indexed(spark, sf)
    indexed = [r["doc_id"] for r in indexed_df.collect()]
    assert brute and indexed

    # the engine's own multiprobe bound: same BM25 side, ranking B
    # from sign-LSH Hamming-1 multiprobe, same fusion
    docs = load(spark, sf, "documents")
    emb = T.hash_embed(spread(docs), HASH_EMBED_DIM).withColumnRenamed(
        "doc_id", "vec_id"
    )
    qvec, corpus = min_id_query_split(emb)
    probed_top = hyperplane_topk_probed(
        corpus, qvec, k=RRF_DEPTH, n_bits=6
    ).withColumnRenamed("vec_id", "doc_id")
    bmtop = (
        bm25_scores(docs)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(RRF_DEPTH)
    )
    probed = [r["doc_id"] for r in _rrf_fuse(bmtop, probed_top).collect()]

    recall_indexed = len(set(brute) & set(indexed)) / len(brute)
    recall_probed = len(set(brute) & set(probed)) / len(brute)
    assert recall_indexed >= recall_probed, (
        f"indexed fused recall {recall_indexed} fell below the "
        f"sign-LSH multiprobe bound {recall_probed}: "
        f"brute={brute} indexed={indexed} probed={probed}"
    )

    buf = io.StringIO()
    with redirect_stdout(buf):
        indexed_df.explain()
    assert re.search(
        r"PartitionFilters: \[.*centroid_id#\d+ IN \(", buf.getvalue()
    ), buf.getvalue()


def test_cosine_expression_matches_numpy(spark):
    import numpy as np

    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    df = spark.createDataFrame([(a, b)], ["a", "b"])
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).first()["c"]
    na, nb = np.array(a), np.array(b)
    want = float(na.dot(nb) / (np.linalg.norm(na) * np.linalg.norm(nb)))
    assert got == pytest.approx(want, rel=1e-12)


def test_multimodal_metadata_plumbing(spark):
    docs = spark.createDataFrame([(7, "Az test")], ["doc_id", "text"])
    media = attach_payload(docs, "doc_id", "text")
    row = extract_metadata(media, fake_decode=True).first()
    assert row["media_id"] == 7
    assert row["byte_len"] == 7
    assert row["width"] == (ord("A") % 64) + 1
    assert row["height"] == (ord("z") % 64) + 1
    import hashlib

    assert row["sha256"] == hashlib.sha256(b"Az test").hexdigest()


def test_multimodal_resize_and_audio_plumbing(spark):
    from vsphere_event_streaming_spark.functions.multimodal import (
        audio_features,
        resize_images,
    )

    docs = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "")], ["doc_id", "text"]
    )
    media = attach_payload(docs, "doc_id", "text")

    resized = {
        r["media_id"]: r for r in resize_images(media, 32, 32).collect()
    }
    assert resized[1]["width"] == 32 and resized[1]["height"] == 32
    # fake resize truncates payload proportionally to target width
    assert bytes(resized[1]["payload"]) == b"abcd"

    feats = {r["media_id"]: r for r in audio_features(media).collect()}
    assert feats[1]["n_samples"] == 8
    assert feats[1]["rms"] > 0
    assert feats[2]["n_samples"] == 0 and feats[2]["rms"] == 0.0


def test_decode_image_real_png_and_unknown_bytes():
    import numpy as np

    from vsphere_event_streaming_spark.functions import codecs

    px = np.arange(7 * 11, dtype=np.uint8).reshape(7, 11) * 3
    hdr = decode_image(codecs.encode_png(px), fake=False)
    assert hdr == {
        "format": "png", "width": 11, "height": 7,
        "bit_depth": 8, "channels": 1,
    }
    with pytest.raises(ValueError):
        decode_image(b"not an image", fake=False)


def test_png_codec_roundtrip_all_filters_and_colors():
    """encode→decode is identity for gray/RGB/RGBA across heights ≥5
    (the encoder rotates filter types 0-4 by row, so height ≥5 forces
    every unfilter path)."""
    import numpy as np

    from vsphere_event_streaming_spark.functions import codecs

    rng = np.random.RandomState(3)
    for shape in [(5, 9), (8, 3, 3), (6, 4, 4)]:
        px = rng.randint(0, 256, size=shape).astype(np.uint8)
        assert np.array_equal(codecs.decode_png(codecs.encode_png(px)), px)


def test_jpeg_zigzag_matches_spec_prefix():
    """The derived zigzag order must open with the T.81 Figure 5
    sequence — a corrupted walk would still roundtrip against itself,
    so pin it against the public spec's constant."""
    from vsphere_event_streaming_spark.functions import codecs

    assert list(codecs._ZIGZAG[:10]) == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert sorted(codecs._ZIGZAG) == list(range(64))


def test_jpeg_gray_roundtrip_error_bound_and_grid_exactness():
    """quant=1 baseline JPEG loses < 8 grey levels per pixel (the DCT
    rounding bound the multimodal gate depends on); pixels on the
    16-grid therefore recover EXACTLY after re-quantization."""
    import numpy as np

    from vsphere_event_streaming_spark.functions import codecs

    rng = np.random.RandomState(7)
    for shape in [(7, 9), (8, 8), (16, 24), (5, 13), (1, 1), (3, 40)]:
        img = rng.randint(0, 256, size=shape).astype(np.uint8)
        dec = codecs.decode_jpeg(codecs.encode_jpeg(img))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() < 8
        cells = ((rng.randint(0, 14, size=shape) + 1) * 16).astype(np.uint8)
        dec16 = codecs.decode_jpeg(codecs.encode_jpeg(cells))
        req = ((dec16.astype(np.int64) + 8) // 16) * 16
        assert np.array_equal(req, cells.astype(np.int64))


def test_jpeg_restart_markers_roundtrip():
    """DRI + RSTn path: encoder resets DC predictors and realigns at
    every interval; decoder must resync or the image shears."""
    import numpy as np

    from vsphere_event_streaming_spark.functions import codecs

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(24, 40)).astype(np.uint8)  # 15 MCUs
    payload = codecs.encode_jpeg(img, restart_interval=4)
    assert b"\xff\xdd" in payload  # DRI declared
    assert any(bytes([0xFF, 0xD0 + i]) in payload for i in range(8))
    dec = codecs.decode_jpeg(payload)
    assert np.abs(dec.astype(int) - img.astype(int)).max() < 8


def test_jpeg_color_444_and_420_roundtrip():
    """4:4:4 random color stays within the DCT+BT.601 rounding budget;
    4:2:0 on a smooth gradient survives the chroma box downsample and
    the decoder's sampling-factor upsampling."""
    import numpy as np

    from vsphere_event_streaming_spark.functions import codecs

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(9, 21, 3)).astype(np.uint8)
    dec = codecs.decode_jpeg(codecs.encode_jpeg(img))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 14

    base = np.linspace(0, 200, 32 * 48).reshape(32, 48)
    smooth = np.stack(
        [base, base * 0.8 + 30, base * 0.5 + 50], axis=-1
    ).astype(np.uint8)
    payload = codecs.encode_jpeg(smooth, subsampling="420", restart_interval=3)
    hdr = codecs.jpeg_header(payload)
    assert hdr == {
        "format": "jpeg", "width": 48, "height": 32,
        "bit_depth": 8, "channels": 3,
    }
    dec = codecs.decode_jpeg(payload)
    assert dec.shape == smooth.shape
    assert np.abs(dec.astype(int) - smooth.astype(int)).max() <= 24


def test_jpeg_honest_boundaries():
    """Progressive, truncated, and 16-bit-DQT payloads raise typed
    errors — never a silent wrong decode."""
    import numpy as np
    import pytest as _pytest

    from vsphere_event_streaming_spark.functions import codecs

    # progressive: SOF2 marker
    sof2 = b"\xff\xd8\xff\xc2\x00\x0b" + bytes(
        [8, 0, 16, 0, 16, 1, 1, 0x11, 0]
    )
    with _pytest.raises(NotImplementedError):
        codecs.decode_jpeg(sof2)
    with _pytest.raises(ValueError):
        codecs.decode_jpeg(b"\x00\x01")
    # a valid stream cut off before SOS
    good = codecs.encode_jpeg(np.zeros((8, 8), dtype=np.uint8))
    with _pytest.raises(ValueError):
        codecs.decode_jpeg(good[:20])


def test_jpeg_huffman_single_symbol_table():
    """A constant image degenerates to near-single-symbol Huffman
    tables (the _huff_lengths one-node branch) — must still decode."""
    import numpy as np

    from vsphere_event_streaming_spark.functions import codecs

    img = np.full((16, 16), 128, dtype=np.uint8)
    dec = codecs.decode_jpeg(codecs.encode_jpeg(img))
    assert np.abs(dec.astype(int) - 128).max() < 8


def test_avi_mjpeg_container_roundtrip():
    """RIFF AVI: avih metadata parses back, '00dc' frame payloads come
    out byte-identical and in order, error paths are typed."""
    import numpy as np
    import pytest as _pytest

    from vsphere_event_streaming_spark.functions import codecs

    rng = np.random.RandomState(3)
    frames = [
        codecs.encode_jpeg(
            ((rng.randint(0, 14, size=(7, 9)) + 1) * 16).astype(np.uint8)
        )
        for _ in range(4)
    ]
    avi = codecs.encode_avi_mjpeg(frames, fps=10)
    hdr = codecs.avi_header(avi)
    assert hdr == {
        "format": "avi", "width": 9, "height": 7, "n_frames": 4,
        "us_per_frame": 100000, "duration_ms": 400,
    }
    assert codecs.decode_avi_frames(avi) == frames
    with _pytest.raises(ValueError):
        codecs.avi_header(b"RIFF\x00\x00\x00\x00WAVE")
    with _pytest.raises(ValueError):
        codecs.decode_avi_frames(avi[:40])
    with _pytest.raises(ValueError):
        codecs.encode_avi_mjpeg([])


def test_video_frame_hashes_through_spark(spark):
    """q_video_frames building blocks: the sampler picks frames 0/2/4
    of a 500 ms 10 fps clip at 200 ms intervals, and every sampled
    frame's quantized dHash equals the pure-Python replay of the
    frame-shifted cell image."""
    import numpy as np

    from vsphere_event_streaming_spark.functions.multimodal import (
        _cell_image16_frame,
        dhash_bits,
        synth_cell_avi_payloads,
        video_frame_hashes,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "one two three two one")],
        "doc_id long, text string",
    )
    media = synth_cell_avi_payloads(docs, "doc_id", "text")
    rows = video_frame_hashes(media, every_ms=200).collect()
    got = {(r["media_id"], r["frame_idx"]): r["phash"] for r in rows}
    assert sorted({f for _, f in got}) == [0, 2, 4]
    for (mid, f), ph in got.items():
        text = "alpha beta beta gamma" if mid == 1 else "one two three two one"
        assert ph == dhash_bits(
            _cell_image16_frame(text, f).astype(np.int64)
        )
    # distinct frames hash differently (the per-frame shift is live)
    assert len({ph for (_, _), ph in got.items()}) > 2


def test_jpeg_cell_phash_through_spark(spark):
    """The q_media_phash_jpeg building blocks end-to-end on Spark: the
    synthesized baseline JPEG decodes back to the exact 16-grid cell
    image, so the quantized dHash equals the pure-Python replay."""
    import numpy as np

    from vsphere_event_streaming_spark.functions.multimodal import (
        JPEG_CELL_STEP,
        _cell_image16,
        dhash_bits,
        phash_images,
        synth_cell_jpeg_payloads,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "one two three two one")],
        "doc_id long, text string",
    )
    media = synth_cell_jpeg_payloads(docs, "doc_id", "text")
    got = {
        r["media_id"]: r["phash"]
        for r in phash_images(media, quantize_step=JPEG_CELL_STEP).collect()
    }
    want = {
        1: dhash_bits(_cell_image16("alpha beta beta gamma").astype(np.int64)),
        2: dhash_bits(_cell_image16("one two three two one").astype(np.int64)),
    }
    assert got == want


def test_real_png_resize_through_spark(spark):
    """Real decode → nearest-neighbor resample → re-encode through the
    mapInPandas resize stage; output payload is a valid PNG with the
    target dims and pixels taken from the source grid."""
    import numpy as np

    from vsphere_event_streaming_spark.functions import codecs
    from vsphere_event_streaming_spark.functions.multimodal import (
        resize_images,
    )

    px = (np.add.outer(np.arange(8), np.arange(8)) * 5).astype(np.uint8)
    media = spark.createDataFrame(
        [(1, bytearray(codecs.encode_png(px)))],
        "media_id long, payload binary",
    )
    row = resize_images(media, 4, 4, fake_decode=False).first()
    out = codecs.decode_png(bytes(row["payload"]))
    assert out.shape == (4, 4)
    assert np.array_equal(out, px[::2, ::2])


def test_real_wav_audio_features_through_spark(spark):
    """PCM WAV decodes for real in the audio_features stage: n_samples
    from the data chunk, RMS matching numpy on the int16 samples."""
    import numpy as np

    from vsphere_event_streaming_spark.functions import codecs
    from vsphere_event_streaming_spark.functions.multimodal import (
        audio_features,
    )

    s = (np.sin(np.linspace(0, 50, 500)) * 9000).astype(np.int16)
    media = spark.createDataFrame(
        [(1, bytearray(codecs.encode_wav(s, 8000)))],
        "media_id long, payload binary",
    )
    row = audio_features(media, fake_decode=False).first()
    assert row["n_samples"] == 500
    assert row["rms"] == pytest.approx(
        float(np.sqrt(np.mean(s.astype("float64") ** 2))), rel=1e-12
    )
    assert row["zero_crossings"] > 0


def test_kmeans_fit_objective_monotone(spark):
    """Spherical k-means: each Lloyd's iteration improves (or holds)
    the mean best-centroid cosine, and beats the deterministic seed."""
    from vsphere_event_streaming_spark.functions.vectors import (
        deterministic_centroids,
        kmeans_fit,
        kmeans_objective,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    seed = deterministic_centroids(emb, 8)
    obj_seed = kmeans_objective(emb, seed)
    prev = obj_seed
    for iters in (1, 2, 3):
        cents = kmeans_fit(emb, k=8, iters=iters)
        obj = kmeans_objective(emb, cents)
        assert obj >= prev - 1e-9
        prev = obj
    assert prev > obj_seed  # training actually moved the centroids
    got = cents.collect()
    assert len(got) == 8
    assert all(len(r["cvec"]) == 64 for r in got)


def test_embed_chunks_plumbing(spark):
    """Chunk → batched fake-embedding inference: schema, determinism,
    batch shape."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.multimodal import (
        embed_chunks,
    )

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    chunks = docs.select(
        F.concat_ws("#", "doc_id", F.lit("0")).alias("chunk_key"),
        F.substring("text", 1, 200).alias("chunk_text"),
    )
    out = embed_chunks(chunks, dim=16, batch_size=8)
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(len(r["embedding"]) == 16 for r in rows)
    assert all(-1.0 <= v <= 1.0 for r in rows for v in r["embedding"])
    # deterministic: same text → same vector on a second run
    again = {r["chunk_key"]: r["embedding"] for r in out.collect()}
    assert all(again[r["chunk_key"]] == r["embedding"] for r in rows)


def test_frame_sample_plan_interval_edges(spark):
    """One frame per STARTED interval; zero-duration media emit none."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.multimodal import (
        frame_sample_plan,
    )

    media = spark.createDataFrame(
        [(1, 2500), (2, 2000), (3, 0), (4, 999)], "media_id long, d long"
    ).select(
        "media_id", F.struct(F.col("d").alias("duration_ms")).alias("meta")
    )
    got = {
        r["media_id"]: r["n"]
        for r in frame_sample_plan(media, every_ms=1000)
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # 2500ms → frames at 0,1000,2000; 2000ms → 0,1000; 0ms → none;
    # 999ms → the single frame at 0
    assert got == {1: 3, 2: 2, 4: 1}


def test_udtf_props_json_value_fidelity(spark):
    """UDTF stringification matches JSON semantics (true, compact
    nested objects), not Python repr."""
    from vsphere_event_streaming_spark.functions.udtf_ops import (
        register_udtfs,
    )

    register_udtfs(spark)
    spark.createDataFrame(
        [(1, '{"flag": true, "nested": {"b": 1}, "s": "x", "n": 87}')],
        "event_id long, props string",
    ).createOrReplaceTempView("v_udtf_fidelity")
    got = {
        r["key"]: r["value"]
        for r in spark.sql(
            "SELECT j.key, j.value FROM v_udtf_fidelity e, "
            "LATERAL explode_props(e.props) j"
        ).collect()
    }
    assert got == {
        "flag": "true",
        "nested": '{"b":1}',
        "s": "x",
        "n": "87",
    }


def test_release_cached_unpersists_dedup_intermediates(spark):
    from vsphere_event_streaming_spark import state
    from vsphere_event_streaming_spark.functions import dedup

    state.release_cached()  # start clean (registered persists only)
    jvm_sc = spark.sparkContext._jsc.sc()
    before = jvm_sc.getPersistentRDDs().size()
    pairs = dedup.lsh_verified_pairs(_docs(spark), threshold=0.5)
    pairs.collect()
    assert jvm_sc.getPersistentRDDs().size() > before
    released = state.release_cached()
    assert released >= 2  # shingle arrays + signatures at minimum
    # back to the pre-call footprint: other tests' caches untouched
    assert jvm_sc.getPersistentRDDs().size() == before
    # idempotent and safe to call with nothing cached
    assert state.release_cached() == 0


def test_pii_scrub_counts_and_redaction(spark):
    rows = [
        (0, "contact bob@example.com or 555-123-4567 now"),
        (1, "server at 10.0.0.1 and 192.168.1.254, mail a.b+c@x.io"),
        (2, "no pii here at all"),
        (3, "two mails x@y.zz w@v.uk one phone 111.222.3333"),
    ]
    from vsphere_event_streaming_spark.functions.text import (
        pii_counts,
        pii_redact,
    )

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    c = pii_counts(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            c["email"].alias("e"),
            c["phone"].alias("p"),
            c["ipv4"].alias("i"),
            pii_redact(F.col("text")).alias("red"),
        ).collect()
    }
    assert (out[0]["e"], out[0]["p"], out[0]["i"]) == (1, 1, 0)
    assert out[0]["red"] == "contact <EMAIL> or <PHONE> now"
    assert (out[1]["e"], out[1]["p"], out[1]["i"]) == (1, 0, 2)
    assert (out[2]["e"], out[2]["p"], out[2]["i"]) == (0, 0, 0)
    assert (out[3]["e"], out[3]["p"], out[3]["i"]) == (2, 1, 0)


def test_repetition_profile_degenerate_vs_normal(spark):
    from vsphere_event_streaming_spark.functions.text import (
        repetition_profile,
    )

    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam"),          # degenerate
            (1, "five totally different words here"),  # healthy
            (2, ""),                                   # empty: dropped
        ],
        ["doc_id", "text"],
    )
    out = {r["id"]: r for r in repetition_profile(df).collect()}
    assert set(out) == {0, 1}
    assert out[0]["n_words"] == 5 and out[0]["n_distinct"] == 1
    assert out[0]["max_freq_ratio"] == 1.0 and out[0]["distinct_ratio"] == 0.2
    assert out[1]["distinct_ratio"] == 1.0 and out[1]["max_freq_ratio"] == 0.2


def test_contamination_flags_holdout_overlap(spark):
    from vsphere_event_streaming_spark import state
    from vsphere_event_streaming_spark.functions import dedup

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta epsilon"),   # benchmark member
            (1, "alpha beta gamma delta epsilon"),   # full copy -> 1.0
            (2, "alpha beta gamma zeta eta theta"),  # partial overlap
            (3, "totally unrelated content words here"),  # clean
        ],
        ["doc_id", "text"],
    )
    bench = docs.filter(F.col("doc_id") == 0)
    out = {
        r["id"]: r
        for r in dedup.contamination_report(docs, bench, 0.5).collect()
    }
    state.release_cached()
    assert out[1]["overlap"] == 1.0 and out[1]["contaminated"] == 1
    assert out[3]["n_hits"] == 0 and out[3]["contaminated"] == 0
    # doc 2 shares exactly the 'alpha beta gamma' shingle of its 4
    assert out[2]["n_sh"] == 4 and out[2]["n_hits"] == 1
    assert out[2]["contaminated"] == 0


def test_hyperplane_sig_deterministic_and_bounded(spark):
    from vsphere_event_streaming_spark.functions.vectors import (
        hyperplane_sig,
        hyperplane_topk,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    sigs = emb.select(
        "vec_id", hyperplane_sig(F.col("embedding"), 6).alias("s")
    )
    rows = sigs.collect()
    assert all(0 <= r["s"] < 64 for r in rows)
    # deterministic across evaluations
    again = {r["vec_id"]: r["s"] for r in sigs.collect()}
    assert {r["vec_id"]: r["s"] for r in rows} == again
    # in-bucket top-k scores equal brute-force scores for those ids
    q = emb.orderBy("vec_id").limit(1).select(F.col("embedding").alias("q"))
    corpus = emb.filter(
        F.col("vec_id") > emb.agg(F.min("vec_id")).first()[0]
    )
    got = hyperplane_topk(corpus, q, k=5, n_bits=6).collect()
    assert len(got) >= 1
    brute = {r["vec_id"]: r["score"] for r in knn_topk(corpus, q, k=500).collect()}
    for r in got:
        assert abs(brute[r["vec_id"]] - r["score"]) < 1e-9


def test_jpeg_header_marker_scan_edges():
    """The T.81 marker-scan edges: fill bytes, standalone markers,
    SOS/EOI termination, and every truncation class -> ValueError
    (never a leaked struct.error)."""
    import struct

    import pytest as _pytest

    from vsphere_event_streaming_spark.functions.codecs import jpeg_header

    def seg(marker, body=b""):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    sof = seg(0xC0, struct.pack(">BHHB", 8, 30, 40, 3))
    # fill bytes + a standalone RSTn before the SOF must be skipped
    ok = b"\xff\xd8" + b"\xff" + seg(0xE0, b"JFIF") + b"\xff\xd0" + sof
    hdr = jpeg_header(ok)
    assert (hdr["width"], hdr["height"], hdr["channels"]) == (40, 30, 3)
    assert hdr["bit_depth"] == 8

    # SOS before any SOF: clean failure, entropy data never parsed
    sos_first = b"\xff\xd8" + seg(0xDA, b"\x01") + b"\x12\x34\x56"
    with _pytest.raises(ValueError, match="missing SOF"):
        jpeg_header(sos_first)
    # EOI with no SOF
    with _pytest.raises(ValueError, match="missing SOF"):
        jpeg_header(b"\xff\xd8\xff\xd9")

    # truncation classes all raise ValueError, not struct.error
    for bad in (
        b"\xff\xd8\xff",                      # lone marker byte
        b"\xff\xd8\xff\xe0",                  # segment header cut
        b"\xff\xd8\xff\xe0\x00",              # length field cut
        b"\xff\xd8" + seg(0xE0, b"x" * 10)[:-5],  # body cut
        b"\xff\xd8\xff\xc0\x00\x04\x08",      # SOF too short
        b"\xff\xd8\x00\x12",                  # desynchronized scan
        b"hello",                             # not a JPEG at all
    ):
        with _pytest.raises(ValueError):
            jpeg_header(bad)


def test_lsh_index_incremental_batches(spark, tmp_path):
    """Incremental near-dup: batch 2 finds its dups against batch 1
    through the persisted band index without recomputing batch 1, and
    a batch never collides with itself across retries (candidates are
    computed before the append)."""
    from vsphere_event_streaming_spark.functions import dedup

    idx = dedup.LshIndex(spark, str(tmp_path / "lsh_index"))
    base = "the quick brown fox jumps over the lazy dog tonight again"
    b1 = spark.createDataFrame(
        [(0, base), (1, "completely different text about spark plans here")],
        ["doc_id", "text"],
    )
    c1 = idx.add_batch(b1).collect()
    assert c1 == []  # no dups inside batch 1

    b2 = spark.createDataFrame(
        [
            (10, base),  # near-dup of doc 0 from the PREVIOUS batch
            (11, "entirely novel content with many distinct words now"),
            (12, base + " ok"),  # near-dup of 0 AND 10
        ],
        ["doc_id", "text"],
    )
    c2 = {(r["id_a"], r["id_b"]) for r in idx.add_batch(b2).collect()}
    # batch2-internal pair + cross-batch pairs, nothing touching 1/11;
    # all pairs canonicalized id_a < id_b (cross pairs included)
    assert all(a < b for a, b in c2)
    assert (10, 12) in c2
    assert (0, 10) in c2 and (0, 12) in c2
    ids = {i for p in c2 for i in p}
    assert 1 not in ids and 11 not in ids
    # the index now holds bands for all five docs (4 bands each)
    stored = spark.read.parquet(str(tmp_path / "lsh_index"))
    assert stored.count() == 5 * 4


def test_lsh_index_retry_is_idempotent(spark, tmp_path):
    """A retried batch (same batch_id) overwrites its own partition:
    index row count and candidate pairs are unchanged, and later
    batches see no duplicate band rows."""
    from vsphere_event_streaming_spark.functions import dedup

    path = str(tmp_path / "lsh_index")
    idx = dedup.LshIndex(spark, path)
    base = "the quick brown fox jumps over the lazy dog tonight again"
    b1 = spark.createDataFrame(
        [(0, base), (1, "some unrelated filler text with other words")],
        ["doc_id", "text"],
    )
    idx.add_batch(b1, batch_id="crawl-001")
    n1 = spark.read.parquet(path).count()

    # retry the same batch under the same id — must not grow the index
    c_retry = idx.add_batch(b1, batch_id="crawl-001")
    assert spark.read.parquet(path).count() == n1
    # retried candidates must not pair the batch against its own
    # previously-written bands (0,0)/(1,1) self-pairs or dup pairs
    assert {(r["id_a"], r["id_b"]) for r in c_retry.collect()} == set()

    # a later batch still sees exactly one copy of batch 1's bands
    b2 = spark.createDataFrame([(10, base)], ["doc_id", "text"])
    c2 = [
        (r["id_a"], r["id_b"])
        for r in idx.add_batch(b2, batch_id="crawl-002").collect()
    ]
    assert c2 == [(0, 10)]  # once, canonicalized — not once per dup row

    with pytest.raises(ValueError, match="filesystem-safe"):
        idx.add_batch(b2, batch_id="../escape")


def test_png_roundtrip_hypothesis_randomized():
    """Property: encode→decode is the identity for ANY uint8 image in
    the supported shapes (grayscale/RGB/RGBA, 1..40 px sides) — the
    fixed-rotation test pins the filter schedule; this pins arbitrary
    content against it."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from vsphere_event_streaming_spark.functions import codecs

    @settings(max_examples=40, deadline=None)
    @given(
        h=st.integers(1, 40),
        w=st.integers(1, 40),
        ch=st.sampled_from([1, 3, 4]),
        seed=st.integers(0, 2**31 - 1),
    )
    def roundtrip(h, w, ch, seed):
        rng = np.random.default_rng(seed)
        shape = (h, w) if ch == 1 else (h, w, ch)
        px = rng.integers(0, 256, shape, dtype=np.uint8).astype(np.uint8)
        back = codecs.decode_png(codecs.encode_png(px))
        assert back.shape == px.shape
        assert (back == px).all()

    roundtrip()


def test_sq_codes_adc_mechanics_and_recall(spark):
    """Scalar quantization recomputed independently in Python: every
    4-bit code is the clamped grid cell for its value, the ADC
    distance is the sum of per-dim distances to dequantized values,
    and ADC top-10 recovers most of the exact L2 top-10 (measured
    8/10 on this corpus; floor at 6)."""
    from vsphere_event_streaming_spark.functions.vectors import (
        SQ_LEVELS,
        sq_adc_topk,
        sq_codes,
        sq_range,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    lo, hi = sq_range(emb)
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in emb.collect()
    }
    assert lo == min(x for v in vecs.values() for x in v)
    assert hi == max(x for v in vecs.values() for x in v)

    got = {
        r["vec_id"]: list(r["codes"])
        for r in emb.select(
            "vec_id", sq_codes(F.col("embedding"), lo, hi).alias("codes")
        ).collect()
    }

    def py_code(x):
        return max(0, min(SQ_LEVELS - 1, int(((x - lo) / (hi - lo)) * SQ_LEVELS)))

    for vid, v in vecs.items():
        assert got[vid] == [py_code(x) for x in v], vid

    qmin = emb.agg(F.min("vec_id").alias("__qid"))
    qvec = emb.join(F.broadcast(qmin), emb.vec_id == F.col("__qid")).select(
        F.col("embedding").alias("q")
    )
    corpus = emb.join(F.broadcast(qmin)).filter(
        F.col("vec_id") != F.col("__qid")
    ).drop("__qid")
    adc = sq_adc_topk(corpus, qvec, lo, hi, k=10).collect()

    qid = min(vecs)
    q = vecs[qid]
    step = (hi - lo) / SQ_LEVELS

    def py_adc(v):
        return sum(
            (a - (lo + (py_code(b) + 0.5) * step)) ** 2 for a, b in zip(q, v)
        )

    for r in adc:
        assert abs(r["adc_dist"] - py_adc(vecs[r["vec_id"]])) < 1e-5

    exact = sorted(
        (vid for vid in vecs if vid != qid),
        key=lambda vid: (
            sum((a - b) ** 2 for a, b in zip(vecs[vid], q)),
            vid,
        ),
    )[:10]
    overlap = {r["vec_id"] for r in adc} & set(exact)
    assert len(overlap) >= 6, (sorted(exact), [r["vec_id"] for r in adc])


# ----------------------------------------------------------------------
# L16: boilerplate scrub
# ----------------------------------------------------------------------
def test_segment_texts_windows_and_empty(spark):
    from vsphere_event_streaming_spark.functions.text import (
        segment_texts,
        words,
    )

    df = spark.createDataFrame(
        [("a b c d e f g h i j",), ("",)], ["text"]
    ).select(segment_texts(words(F.col("text")), 4).alias("segs"))
    out = [r["segs"] for r in df.collect()]
    assert out[0] == ["a b c d", "e f g h", "i j"]
    assert out[1] == []


def test_boilerplate_scrub_drops_shared_segment(spark, tmp_path):
    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        q_boilerplate_scrub,
    )

    shared = "one two three four five six seven eight"
    rows = [
        (0, shared + " tail0 only"),
        (1, shared + " tail1 text"),
        (2, "unique content nine ten eleven twelve thirteen x"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in q_boilerplate_scrub(spark, str(tmp_path)).collect()
    }
    # the shared 8-word prefix segment is boilerplate (df=2); each
    # doc's 2nd segment (its distinct tail) survives
    assert out[0]["n_dropped"] == 1 and out[0]["clean_text"] == "tail0 only"
    assert out[1]["n_dropped"] == 1 and out[1]["clean_text"] == "tail1 text"
    assert out[2]["n_dropped"] == 0
    assert out[2]["clean_text"].startswith("unique content")


# ----------------------------------------------------------------------
# L17: bigram-LM quality score
# ----------------------------------------------------------------------
def test_quality_lm_hand_computed(spark, tmp_path):
    import math

    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        q_quality_lm,
    )

    rows = [(0, "a b a b"), (1, "c d")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r for r in q_quality_lm(spark, str(tmp_path)).collect()
    }
    # corpus: bigrams d0 = (a,b),(b,a),(a,b); d1 = (c,d)
    # uni c1 over bigram-left: a=2, b=1, c=1; bi: (a,b)=2,(b,a)=1,(c,d)=1
    # V = 4 distinct words, alpha = 0.5
    exp0 = (
        2 * math.log((2 + 0.5) / (2 + 0.5 * 4))
        + math.log((1 + 0.5) / (1 + 0.5 * 4))
    ) / 3
    exp1 = math.log((1 + 0.5) / (1 + 0.5 * 4))
    assert out[0]["n_bigrams"] == 3 and out[1]["n_bigrams"] == 1
    assert abs(out[0]["avg_logp"] - exp0) < 1e-6
    assert abs(out[1]["avg_logp"] - exp1) < 1e-6


# ----------------------------------------------------------------------
# L18: semantic dedup
# ----------------------------------------------------------------------
def test_semantic_dedup_min_id_dominance(spark):
    from vsphere_event_streaming_spark.functions.vectors import (
        semantic_dedup,
    )

    v = [1.0, 0.5, -0.25, 0.75]
    neg = [-x for x in v]
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, neg)], ["vec_id", "embedding"]
    )
    out = {r["vec_id"]: r for r in semantic_dedup(df, n_bits=4).collect()}
    # identical vectors share a bucket, cos=1 -> larger id dropped;
    # the negated vector flips every hyperplane vote -> other bucket
    assert out[1]["kept"] is True
    assert out[2]["kept"] is False
    assert out[3]["kept"] is True
    assert out[1]["sig"] == out[2]["sig"] != out[3]["sig"]


# ----------------------------------------------------------------------
# L19: repeated spans
# ----------------------------------------------------------------------
def test_repeated_spans_exact_boundaries(spark):
    from vsphere_event_streaming_spark.functions.dedup import (
        repeated_spans,
    )

    shared = " ".join(f"s{i}" for i in range(10))
    rows = [
        (0, "a0 a1 " + shared + " b0 b1"),
        (1, "c0 " + shared + " d0 d1 d2"),
        (2, "e0 e1 e2 e3 e4 e5 e6 e7 e8 e9"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = repeated_spans(docs).collect()
    assert len(out) == 1
    r = out[0]
    # the 10 shared words start at word 2 in doc 0, word 1 in doc 1
    assert (r["id_a"], r["id_b"]) == (0, 1)
    assert (r["start_a"], r["start_b"], r["len_words"]) == (2, 1, 10)


# ----------------------------------------------------------------------
# L20: DSIR importance weight
# ----------------------------------------------------------------------
def test_importance_weight_hand_computed(spark, tmp_path):
    import math

    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        q_importance_weight,
    )

    rows = [(0, "a a b", "src0"), (1, "a c", "other")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in q_importance_weight(spark, str(tmp_path)).collect()
    }
    # nt=3 (src0 tokens), nr=5, V=3; ct: a=2,b=1; cr: a=3,b=1,c=1
    lr_a = math.log(2.5 / 4.5) - math.log(3.5 / 6.5)
    lr_b = math.log(1.5 / 4.5) - math.log(1.5 / 6.5)
    lr_c = math.log(0.5 / 4.5) - math.log(1.5 / 6.5)
    assert out[0]["n_tokens"] == 3 and out[1]["n_tokens"] == 2
    assert abs(out[0]["logw"] - (2 * lr_a + lr_b) / 3) < 1e-6
    assert abs(out[1]["logw"] - (lr_a + lr_c) / 2) < 1e-6
    # the all-target-vocabulary doc weights toward the target
    assert out[0]["logw"] > out[1]["logw"]


def test_boilerplate_scrub_keeps_empty_docs(spark):
    from vsphere_event_streaming_spark.functions.text import (
        boilerplate_scrub,
    )

    df = spark.createDataFrame(
        [(0, "   "), (1, "a b c")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in boilerplate_scrub(df).collect()}
    # whitespace-only doc: zero segments, but the row survives so
    # downstream joins cannot silently drop it
    assert out[0]["n_segs"] == 0 and out[0]["clean_text"] == ""
    assert out[1]["n_segs"] == 1 and out[1]["clean_text"] == "a b c"


def test_empty_corpus_guards_raise_clearly(spark):
    from vsphere_event_streaming_spark.functions.text import (
        importance_weights,
    )
    from vsphere_event_streaming_spark.functions.vectors import sq_range

    empty_docs = spark.createDataFrame(
        [(0, "", "src0")], ["doc_id", "text", "source"]
    ).filter(F.col("doc_id") < 0)
    with pytest.raises(ValueError, match="no tokens"):
        importance_weights(empty_docs, "src0")

    empty_vecs = spark.createDataFrame(
        [(0, [1.0, 2.0])], ["vec_id", "embedding"]
    ).filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty corpus"):
        sq_range(empty_vecs)


# ----------------------------------------------------------------------
# L22: perceptual hash through the PNG roundtrip
# ----------------------------------------------------------------------
def test_phash_roundtrip_and_sensitivity(spark):
    import numpy as np

    from vsphere_event_streaming_spark.functions import codecs
    from vsphere_event_streaming_spark.functions.multimodal import (
        _cell_image,
        dhash_bits,
        phash_images,
        synth_cell_png_payloads,
    )

    # word order must not matter (bag-of-words); counts must
    t = "alpha beta gamma alpha"
    assert np.array_equal(_cell_image(t), _cell_image("beta alpha alpha gamma"))
    assert not np.array_equal(_cell_image(t), _cell_image("alpha beta gamma"))

    # the PNG roundtrip is exactly the identity on the cell image
    img = _cell_image(t)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(img)), img)

    # end-to-end through Spark: encode -> decode -> dhash equals the
    # arithmetic-only hash
    docs = spark.createDataFrame(
        [(0, t), (1, "something else entirely here")], ["doc_id", "text"]
    )
    out = {
        r["media_id"]: r["phash"]
        for r in phash_images(
            synth_cell_png_payloads(docs, "doc_id", "text")
        ).collect()
    }
    assert out[0] == dhash_bits(_cell_image(t))
    assert out[0] != out[1]


def test_audio_fingerprint_roundtrip_and_sensitivity(spark):
    import numpy as np

    from vsphere_event_streaming_spark.functions import codecs
    from vsphere_event_streaming_spark.functions.multimodal import (
        _text_samples,
        audio_fingerprints,
        audio_fp_bits,
        synth_wav_payloads,
    )

    t = "some deterministic sample text for audio"
    s = _text_samples(t)
    # the WAV roundtrip is exactly the identity on int16 samples
    _, back = codecs.decode_wav(codecs.encode_wav(s))
    assert np.array_equal(back.astype(np.int16), s)

    docs = spark.createDataFrame(
        [(0, t), (1, t + " but different tail energy Z")],
        ["doc_id", "text"],
    )
    out = {
        r["media_id"]: r["afp"]
        for r in audio_fingerprints(
            synth_wav_payloads(docs, "doc_id", "text")
        ).collect()
    }
    assert out[0] == audio_fp_bits(s.astype(np.int64))
    assert out[0] != out[1]


# ----------------------------------------------------------------------
# L24: feature-hashing embedding
# ----------------------------------------------------------------------
def test_hash_embed_hand_computed_and_empty(spark):
    import hashlib

    from vsphere_event_streaming_spark.functions.text import hash_embed

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 1_000_000_007

    df = spark.createDataFrame(
        [(0, "a b a"), (1, "   ")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["embedding"] for r in hash_embed(df, 8).collect()}
    exp = [0.0] * 8
    for w, cnt in (("a", 2), ("b", 1)):
        sv = cnt if h60("s:" + w) % 2 == 0 else -cnt
        exp[h60(w) % 8] += sv
    assert out[0] == exp
    # token-free doc keeps a row: the zero vector
    assert out[1] == [0.0] * 8


def test_corpus_prep_example_end_to_end(spark, tmp_path):
    """The examples/ pipeline runs end-to-end on the test corpus and
    its funnel only narrows: input >= hygiene >= selected >= written,
    and written shards are partitioned by (lang, pack_id)."""
    import sys

    sys.path.insert(0, ".")
    from examples.corpus_prep import prepare_corpus

    out = prepare_corpus(
        spark, "/root/testdata/sf0.001", str(tmp_path / "shards")
    )
    assert out["input_docs"] >= out["after_hygiene"] >= out["selected"]
    assert out["selected"] == out["written_docs"] > 0
    assert out["packs"] > 0
    # r9 (VERDICT_r8 #6): the mixing stage derives per-language rates
    # in-plan (temperature mixing) — its per-language kept counts are
    # in the summary, sum to the stage total, sit inside the funnel,
    # and every kept language keeps at least one doc
    assert out["after_hygiene"] >= out["mix_kept"] >= out["selected"]
    assert sum(out["mix_kept_by_lang"].values()) == out["mix_kept"]
    assert out["mix_kept_by_lang"]
    assert all(v > 0 for v in out["mix_kept_by_lang"].values())
    # stage 4b (r8): the SemDeDup-cells pass ran and only narrows —
    # on this corpus the hygiene gates already removed the textual
    # near-dups, so 0 drops is the expected (and asserted-bounded)
    # outcome; the operator's own recall evidence is
    # q_dedup_semantic_cells' oracle
    assert out["semantic_dropped"] >= 0
    # r10 (VERDICT_r9 #4): both corpus-relative gates ran in the
    # selection stage — the quality-PERCENTILE gate (L43) and the
    # n-gram NOVELTY diversity signal (L41). Drops are non-negative,
    # bounded by the funnel, and the final per-language kept counts
    # sum to the selected total inside the mixing counts
    assert out["quality_gate_dropped"] >= 0
    assert out["novelty_dropped"] >= 0
    assert sum(out["selected_by_lang"].values()) == out["selected"]
    assert set(out["selected_by_lang"]) <= set(out["mix_kept_by_lang"])
    assert all(
        out["selected_by_lang"][lang] <= out["mix_kept_by_lang"][lang]
        for lang in out["selected_by_lang"]
    )
    # r10: the published dataset card covers exactly the selected
    # languages and its doc counts ARE the selected counts (shared
    # corpus_card aggregate — the q_corpus_card expression)
    assert set(out["dataset_card"]) == set(out["selected_by_lang"])
    for lang, card in out["dataset_card"].items():
        assert card["n_docs"] == out["selected_by_lang"][lang]
        assert card["n_tokens"] >= card["n_docs"]  # non-empty docs
        assert 0.0 <= card["dup_rate"] < 1.0
    # r12: the release-split leakage audit ran over the SELECTED
    # corpus — eval docs exist and the leaked count is bounded; the
    # upstream dedup stages are exactly what should keep it low
    assert out["split_eval_docs"] > 0
    assert 0 <= out["split_leaked_eval_docs"] <= out["split_eval_docs"]
    shard = spark.read.parquet(str(tmp_path / "shards"))
    assert {"lang", "pack_id"} <= set(shard.columns)


def test_media_decode_error_policy(spark):
    """on_error='null' quarantines corrupt payloads as NULL hashes
    instead of failing the job; on_error='fail' (default) raises —
    the oracle-checked posture."""
    import pytest as _pytest

    from vsphere_event_streaming_spark.functions.multimodal import (
        audio_fingerprints,
        phash_images,
        synth_cell_png_payloads,
    )

    docs = spark.createDataFrame([(0, "good doc words")], ["doc_id", "text"])
    good = synth_cell_png_payloads(docs, "doc_id", "text")
    bad = spark.createDataFrame(
        [(99, bytearray(b"not a png at all"))], "media_id long, payload binary"
    )
    media = good.unionByName(bad)

    out = {
        r["media_id"]: r["phash"]
        for r in phash_images(media, on_error="null").collect()
    }
    assert out[0] is not None and out[99] is None
    with _pytest.raises(Exception):
        phash_images(media).collect()  # default: fail

    afp = {
        r["media_id"]: r["afp"]
        for r in audio_fingerprints(media, on_error="null").collect()
    }
    assert afp[99] is None  # not RIFF
    with _pytest.raises(ValueError, match="on_error"):
        phash_images(media, on_error="skip")


def test_media_fingerprints_survive_unicode_text(spark, tmp_path):
    """CJK/Unicode text must hash identically in engine and oracle:
    codepoints wrap mod 256 before the int16 sample mapping (ord('的')
    would overflow the dtype), and the phash tokenizer must not eat
    Unicode whitespace the split class leaves alone."""
    import duckdb

    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        _audio_fp_oracle,
        _media_phash_oracle,
        q_audio_fingerprint,
        q_media_phash,
    )

    rows = [(0, "的是了 在我 words"), (1, "\xa0leading nbsp kept")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    for qfn, oracle in (
        (q_audio_fingerprint, _audio_fp_oracle()),
        (q_media_phash, _media_phash_oracle()),
    ):
        got = {
            r[0]: r[1]
            for r in qfn(spark, str(tmp_path)).collect()
        }
        want = dict(con.sql(oracle).fetchall())
        assert got == want, (qfn.__name__, got, want)


def test_verify_candidate_pairs_rescoring(spark):
    """Incremental dedup's second half: index candidates re-scored
    exactly against the corpus store — true near-dups survive with
    their exact Jaccard, banded false positives are filtered."""
    from vsphere_event_streaming_spark.functions.dedup import (
        LshIndex,
        jaccard_pairs,
        verify_candidate_pairs,
    )
    from vsphere_event_streaming_spark.state import release_cached

    docs = _docs(spark)
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        cands = LshIndex(spark, f"{d}/idx").add_batch(docs, batch_id="b0")
        verified = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in verify_candidate_pairs(cands, docs, 0.5).collect()
        }
    truth = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    # every verified pair matches exact ground truth; recall through
    # the banding is total on this planted corpus
    assert verified == truth and truth
    release_cached()


def test_decode_bomb_guards():
    """Crafted headers cannot out-allocate their payload: huge declared
    dims raise before any raster allocation, and a deflate bomb inside
    small declared dims stops at the declared raster size — the
    posture phash_images(on_error='null') depends on at crawl scale
    (a bomb is a skipped row, not an allocation DoS)."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from vsphere_event_streaming_spark.functions import codecs

    # JPEG: 60000x60000 SOF dims
    bomb = bytearray(codecs.encode_jpeg(np.zeros((8, 8), np.uint8)))
    struct.pack_into(">HH", bomb, bomb.index(b"\xff\xc0") + 5, 60000, 60000)
    with _pytest.raises(ValueError, match="decode guard"):
        codecs.decode_jpeg(bytes(bomb))

    # PNG: huge IHDR dims
    def png(w, h, idat):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            codecs.PNG_MAGIC
            + codecs._png_chunk(b"IHDR", ihdr)
            + codecs._png_chunk(b"IDAT", idat)
            + codecs._png_chunk(b"IEND", b"")
        )

    with _pytest.raises(ValueError, match="decode guard"):
        codecs.decode_png(png(60000, 60000, zlib.compress(b"\x00" * 100)))

    # PNG: deflate bomb (1 MB of zeros) behind 3x3 declared dims —
    # the bounded inflate stops at the declared raster size
    with _pytest.raises(ValueError, match="length mismatch"):
        codecs.decode_png(png(3, 3, zlib.compress(b"\x00" * 1_000_000)))

    # legitimate payloads still roundtrip under the guard
    img = np.arange(7 * 9, dtype=np.uint8).reshape(7, 9)
    assert np.array_equal(codecs.decode_png(codecs.encode_png(img)), img)


def test_ivf_index_incremental_batches(spark, tmp_path):
    """Incremental IVF: two appended batches search identically to the
    inline ivf_topk over their union with the same frozen centroids,
    the probe scan prunes unprobed cell partitions across batch
    directories, and a replayed batch overwrites instead of doubling."""
    import io
    import re
    from contextlib import redirect_stdout

    from vsphere_event_streaming_spark.functions.vectors import (
        IvfIndex,
        deterministic_centroids,
        ivf_topk,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    qmin = emb.agg(F.min("vec_id").alias("__qid"))
    qvec = emb.join(F.broadcast(qmin), emb.vec_id == F.col("__qid")).select(
        F.col("embedding").alias("q")
    )
    corpus = emb.join(F.broadcast(qmin)).filter(
        F.col("vec_id") != F.col("__qid")
    ).drop("__qid")
    cents = deterministic_centroids(emb, 10)

    n = corpus.count()
    cut = corpus.approxQuantile("vec_id", [0.5], 0.0)[0]
    b1 = corpus.filter(F.col("vec_id") <= cut)
    b2 = corpus.filter(F.col("vec_id") > cut)

    idx = IvfIndex(spark, f"{tmp_path}/ivf_inc", cents)
    n1 = idx.add_batch(b1, "b1")
    n2 = idx.add_batch(b2, "b2")
    assert n1 + n2 == n

    inline = [
        r["vec_id"]
        for r in ivf_topk(corpus, cents, qvec, k=10, nprobe=3).collect()
    ]
    got_df = idx.search(qvec, k=10, nprobe=3)
    got = [r["vec_id"] for r in got_df.collect()]
    assert got == inline

    buf = io.StringIO()
    with redirect_stdout(buf):
        got_df.explain()
    assert re.search(
        r"PartitionFilters: \[.*centroid_id#\d+ IN \(", buf.getvalue()
    ), buf.getvalue()

    # replayed batch: same rows, not doubled
    idx.add_batch(b2, "b2")
    assert spark.read.parquet(f"{tmp_path}/ivf_inc").count() == n
    assert [r["vec_id"] for r in idx.search(qvec, k=10, nprobe=3).collect()] == inline


def test_corpus_monitor_example_end_to_end(spark, tmp_path):
    """The examples/ monitoring topology runs end-to-end: one
    foreachBatch pass feeds five document store families per epoch
    (incl. the r13 LshIndex→GroupStore incremental near-dup pipeline;
    plus an events pass feeding rate/frequency/activity/HLL and an
    embeddings pass feeding the AUC cells and the MRL index — ELEVEN
    families), and every summary figure read off the merged stores
    matches its batch operator over the ingested corpus."""
    import sys

    sys.path.insert(0, ".")
    from examples.corpus_monitor import monitor_corpus
    from vsphere_event_streaming_spark.queries.advanced_queries import (
        q_search_bm25,
    )
    from vsphere_event_streaming_spark.queries.streaming_queries import (
        q_events_anomaly,
        q_events_retention,
    )

    sf = "/root/testdata/sf0.001"
    out = monitor_corpus(spark, sf, str(tmp_path / "mon"))
    assert out["ingested_docs"] == 500
    assert 0 < out["distinct_texts"] <= out["ingested_docs"]
    assert 0.0 <= out["dup_rate"] < 1.0
    assert 0.0 < out["mean_novelty"] < 1.0
    assert 0 <= out["zero_novelty_docs"] < out["ingested_docs"]
    assert out["quality_p50_by_lang"]
    assert all(0.0 < v < 1.0 for v in out["quality_p50_by_lang"].values())
    # the served BM25 top-10 IS the batch q_search_bm25 top-10
    want = [
        (r["doc_id"], r["score"])
        for r in q_search_bm25(spark, sf).limit(10).collect()
    ]
    assert [tuple(t) for t in out["bm25_top10"]] == want
    # the anomaly figure — served off the MERGED RateCellStore cells —
    # is the declared query's own count (cell-additivity parity)
    assert out["event_rate_anomalies"] == (
        q_events_anomaly(spark, sf)
        .filter("is_anomaly")
        .count()
    )
    # CMS estimates cover every observed type and upper-bound the
    # exact counts (the one-sided CMS error contract)
    ev = load(spark, sf, "events")
    exact_counts = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(out["event_type_freq_est"]) == set(exact_counts)
    for t, n in exact_counts.items():
        assert out["event_type_freq_est"][t] >= n
    # the retention block — served off the MERGED ActivityStore rows —
    # matches the declared query's own aggregate (set-union parity)
    ret = q_events_retention(spark, sf)
    want_ret = ret.agg(
        F.countDistinct("cohort_day_us").alias("nc"),
        F.sum(F.when(F.col("day_offset") == 0, F.col("n_users"))).alias(
            "d0"
        ),
        F.sum(F.when(F.col("day_offset") == 1, F.col("n_users"))).alias(
            "d1"
        ),
    ).first()
    assert out["retention_cohorts"] == want_ret["nc"] > 0
    assert out["retention_day1_rate"] == round(
        (want_ret["d1"] or 0) / want_ret["d0"], 6
    )
    # the running-AUC block — served off the merged AucCellStore
    # cells — is a real discriminative score (the per-cell parity
    # proof is test_incremental_auc_cell_stream)
    assert 0.5 < out["running_auc"] <= 1.0
    # the stickiness block matches the declared query's latest day
    from vsphere_event_streaming_spark.queries.streaming_queries import (
        q_events_stickiness,
    )

    last = (
        q_events_stickiness(spark, sf)
        .orderBy(F.col("day_us").desc())
        .limit(1)
        .first()
    )
    assert out["latest_dau"] == last["dau"]
    assert out["latest_stickiness"] == last["stickiness"]
    # the HLL block — served off the MERGED register cells (r13,
    # max-lattice parity is test_incremental_hll_store) — is the
    # declared q_sketch_hll estimate for the same latest day
    from vsphere_event_streaming_spark.queries.advanced_queries import (
        q_sketch_hll,
    )

    hll_last = (
        q_sketch_hll(spark, sf)
        .orderBy(F.col("day_us").desc())
        .limit(1)
        .first()
    )
    assert out["latest_dau_hll"] == hll_last["est_dau"]
    assert (
        abs(out["latest_dau_hll"] - out["latest_dau"])
        / out["latest_dau"]
        < 0.20
    )
    # the ANN probe reports a NON-SELF neighbor (ADVICE r12: the
    # store ingests the query's own row, so an unfiltered k=1 probe
    # was a degenerate self-match at cosine 1.0)
    emb = load(spark, sf, "embeddings")
    qid = emb.agg(F.min("vec_id")).first()[0]
    assert out["ann_top1_id"] != qid
    # the near-dup GROUP block — served off the merged GroupStore
    # labels (r13) — matches batch dedup_groups over the batch
    # LSH-verified pairs of the whole ingested corpus (per-epoch
    # banding ∪ = batch banding, verified at the same threshold)
    from vsphere_event_streaming_spark.functions.dedup import (
        lsh_verified_pairs,
    )
    from vsphere_event_streaming_spark.state import release_cached
    from vsphere_event_streaming_spark.operators.graph import dedup_groups

    docs = load(spark, sf, "documents")
    gl = dedup_groups(lsh_verified_pairs(docs, threshold=0.5))
    want_groups = gl.select("group_id").distinct().count()
    want_docs = gl.count()
    want_max = (
        gl.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("s"))
        .agg(F.max("s"))
        .first()[0]
    )
    release_cached()
    assert out["neardup_groups"] == want_groups > 0
    assert out["neardup_grouped_docs"] == want_docs
    assert out["neardup_max_group"] == want_max


def test_matryoshka_recall_meets_ann_floor(spark):
    """The prefix-truncation ANN (q_knn_matryoshka, r11) must recover
    at least the IVF family floor (5/10) of the exact cosine top-10 —
    measured 9-10/10 at MRL_PREFIX=32 / MRL_SHORTLIST=100 on the
    driver corpus (the constants' docstring records the sweep)."""
    from vsphere_event_streaming_spark.functions.vectors import (
        knn_topk,
        min_id_query_split,
    )
    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        q_knn_matryoshka,
    )

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")
    qvec, corpus = min_id_query_split(emb)
    exact = {r["vec_id"] for r in knn_topk(corpus, qvec, k=10).collect()}
    got = {r["vec_id"] for r in q_knn_matryoshka(spark, sf).collect()}
    assert len(exact & got) >= 5, (sorted(exact), sorted(got))


def test_mrl_index_column_pruning_and_parity(spark, tmp_path):
    """The materialized Matryoshka layout (r11): (1) search against
    the written index equals the inline q_knn_matryoshka result
    row-for-row (same prefix, same shortlist, same rerank); (2) the
    stage-1 plan's ReadSchema carries the prefix column and NOT the
    full embedding — the prefix_len/d I/O claim, parquet-verified
    like the IVF-PQ codes-only assertion."""
    import re

    from vsphere_event_streaming_spark.functions.vectors import (
        min_id_query_split,
        mrl_topk_indexed,
        write_mrl_index,
    )
    from vsphere_event_streaming_spark.queries.pipeline_queries import (
        MRL_PREFIX,
        MRL_SHORTLIST,
        q_knn_matryoshka,
    )

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")
    qvec, corpus = min_id_query_split(emb)
    path = f"{tmp_path}/mrl"
    write_mrl_index(corpus, MRL_PREFIX, path)

    got_df = mrl_topk_indexed(
        spark, path, qvec, MRL_PREFIX, k=10, shortlist=MRL_SHORTLIST
    )
    got = [(r["vec_id"], r["score"]) for r in got_df.collect()]
    want = [
        (r["vec_id"], r["score"])
        for r in q_knn_matryoshka(spark, sf).collect()
    ]
    assert got == want

    stage1 = spark.read.parquet(path).select("vec_id", "prefix")
    plan = stage1._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "prefix" in m.group(1), plan
    assert "embedding" not in m.group(1), m.group(1)
