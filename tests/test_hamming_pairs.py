"""hamming_pairs: banded candidate generation == brute force, exactly.

The pigeonhole argument (k+1 bands over n bits ⇒ a ≤k-distance pair
agrees on ≥1 band) makes the banded join + bit_count verify EXACTLY
the thresholded pair set — these tests assert that equivalence on a
corpus with engineered near-collisions, which is what lets
q_dedup_media carry a full all-pairs SQL oracle.
"""

from __future__ import annotations

import itertools
import random

import pytest

from vsphere_event_streaming_spark.functions.dedup import hamming_pairs


def _brute(rows, k):
    out = set()
    for (ia, ha), (ib, hb) in itertools.combinations(rows, 2):
        d = bin(ha ^ hb).count("1")
        if d <= k:
            a, b = min(ia, ib), max(ia, ib)
            out.add((a, b, d))
    return out


def _mk_rows(n_bits, n=80, seed=11):
    rng = random.Random(seed)
    base = [rng.getrandbits(n_bits) for _ in range(12)]
    rows = []
    for i in range(n):
        h = rng.choice(base)
        # flip 0-3 random bits so near-collisions exist at every k
        for _ in range(rng.randint(0, 3)):
            h ^= 1 << rng.randrange(n_bits)
        rows.append((i, h))
    return rows


@pytest.mark.parametrize("n_bits,k", [(63, 2), (63, 0), (56, 3), (16, 1)])
def test_banded_equals_brute_force(spark, n_bits, k):
    rows = _mk_rows(n_bits)
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_pairs(df, "id", "h", k, n_bits=n_bits).collect()
    }
    assert got == _brute(rows, k)


def test_rejects_bad_widths(spark):
    df = spark.createDataFrame([(1, 2)], "id long, h long")
    with pytest.raises(ValueError):
        hamming_pairs(df, "id", "h", 1, n_bits=64)  # sign bit
    with pytest.raises(ValueError):
        hamming_pairs(df, "id", "h", 1, n_bits=0)
    with pytest.raises(ValueError):
        hamming_pairs(df, "id", "h", 63, n_bits=63)  # k >= n_bits


def test_frame_banded_equals_brute_force(spark):
    """hamming_pairs_frames: the frame-aligned banding + all-frames
    verify equals the brute-force 'every aligned frame within k'
    pair set, with the max distance reported."""
    from vsphere_event_streaming_spark.functions.dedup import (
        hamming_pairs_frames,
    )

    n_bits, k, n_frames = 63, 3, 3
    rng = random.Random(5)
    base = [
        [rng.getrandbits(n_bits) for _ in range(n_frames)] for _ in range(8)
    ]
    clips = []
    for i in range(50):
        fr = list(rng.choice(base))
        for _ in range(rng.randint(0, 4)):
            f = rng.randrange(n_frames)
            fr[f] ^= 1 << rng.randrange(n_bits)
        clips.append((i, fr))
    rows = [
        (i, f, h) for i, fr in clips for f, h in enumerate(fr)
    ]
    df = spark.createDataFrame(rows, "id long, fi int, h long")
    got = {
        (r.id_a, r.id_b, r.max_hamming)
        for r in hamming_pairs_frames(
            df, "id", "fi", "h", k, n_bits=n_bits
        ).collect()
    }
    want = set()
    for (ia, fa), (ib, fb) in itertools.combinations(clips, 2):
        ds = [bin(x ^ y).count("1") for x, y in zip(fa, fb)]
        if max(ds) <= k:
            want.add((min(ia, ib), max(ia, ib), max(ds)))
    assert got == want


def test_max_fp_freq_excludes_degenerate_groups(spark):
    """max_fp_freq: a degenerate fingerprint (occurring over the cap)
    is excluded from banded pairing — the remaining pair set equals
    brute force over the kept rows, and the excluded rows are exactly
    the over-cap fingerprint groups (routable to the exact tier)."""
    n_bits, k, cap = 63, 2, 10
    rows = _mk_rows(n_bits, n=60, seed=31)
    const = 0x123456789ABCD
    rows += [(200 + i, const) for i in range(40)]  # degenerate group
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_pairs(
            df, "id", "h", k, n_bits=n_bits, max_fp_freq=cap
        ).collect()
    }
    from collections import Counter

    freq = Counter(h for _, h in rows)
    kept = [(i, h) for i, h in rows if freq[h] <= cap]
    assert got == _brute(kept, k)
    # no cap -> the degenerate group floods the result quadratically
    full = hamming_pairs(df, "id", "h", k, n_bits=n_bits).count()
    assert full >= len(got) + (40 * 39) // 2


def test_hamming_pairs_robust_two_tier(spark):
    """hamming_pairs_robust == brute force over kept rows ∪ star
    pairs (min-id rep ↔ member, hamming 0) of each over-cap group —
    the VERDICT_r6 #3 composition, with TWO distinct degenerate
    groups so the star tier's per-group rep is exercised."""
    from vsphere_event_streaming_spark.functions.dedup import (
        hamming_pairs_robust,
    )

    n_bits, k, cap = 63, 2, 5
    rows = _mk_rows(n_bits, n=50, seed=77)
    g1, g2 = 0x0F0F0F0F0F0F0F, 0x123123123123
    rows += [(300 + i, g1) for i in range(12)]
    rows += [(400 + i, g2) for i in range(8)]
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_pairs_robust(
            df, "id", "h", k, n_bits=n_bits, max_fp_freq=cap
        ).collect()
    }
    from collections import Counter

    freq = Counter(h for _, h in rows)
    kept = [(i, h) for i, h in rows if freq[h] <= cap]
    want = set(_brute(kept, k))
    for const, base, n in ((g1, 300, 12), (g2, 400, 8)):
        rep = min(i for i, h in rows if h == const)
        want |= {(rep, i, 0) for i, h in rows if h == const and i != rep}
    assert got == want
    # star not clique: each degenerate group adds c-1 rows, not c(c-1)/2
    n_zero = sum(1 for *_, d in got if d == 0)
    assert n_zero <= len(_brute(kept, 0)) + 11 + 7


def test_clipmaps_equals_frames_and_brute_force(spark):
    """hamming_pairs_clipmaps (r15: pre-grouped clip arrays +
    frame-0-only banding + map-lookup verify) == hamming_pairs_frames
    == brute force 'max over SHARED frames within k', on clips with
    DIFFERING frame sets — every clip contains the probe frame (the
    precondition) but otherwise drops random frames, so the
    intersection semantics and the single-frame banding completeness
    are both exercised."""
    from vsphere_event_streaming_spark.functions.dedup import (
        hamming_pairs_clipmaps,
        hamming_pairs_frames,
    )

    n_bits, k, n_frames = 56, 3, 5
    rng = random.Random(19)
    base = [
        [rng.getrandbits(n_bits) for _ in range(n_frames)]
        for _ in range(6)
    ]
    clips = []
    for i in range(40):
        fr = list(rng.choice(base))
        for _ in range(rng.randint(0, 4)):
            f = rng.randrange(n_frames)
            fr[f] ^= 1 << rng.randrange(n_bits)
        # keep frame 0 (precondition), drop a random subset of others
        keep = [0] + [
            f for f in range(1, n_frames) if rng.random() < 0.7
        ]
        clips.append((i, [(f, fr[f]) for f in keep]))
    want = set()
    for (ia, fa), (ib, fb) in itertools.combinations(clips, 2):
        da, db = dict(fa), dict(fb)
        shared = sorted(set(da) & set(db))
        ds = [bin(da[f] ^ db[f]).count("1") for f in shared]
        if ds and max(ds) <= k:
            want.add((min(ia, ib), max(ia, ib), max(ds)))

    rows = [(i, f, h) for i, fr in clips for f, h in fr]
    df = spark.createDataFrame(rows, "id long, fi int, h long")
    via_frames = {
        (r.id_a, r.id_b, r.max_hamming)
        for r in hamming_pairs_frames(
            df, "id", "fi", "h", k, n_bits=n_bits
        ).collect()
    }
    crows = [
        (i, [f for f, _ in fr], [h for _, h in fr]) for i, fr in clips
    ]
    cdf = spark.createDataFrame(
        crows, "id long, fs array<int>, hs array<bigint>"
    )
    via_clipmaps = {
        (r.id_a, r.id_b, r.max_hamming)
        for r in hamming_pairs_clipmaps(
            cdf, "id", "fs", "hs", k, n_bits=n_bits
        ).collect()
    }
    # the per-frame form bands EVERY frame: pairs within k on every
    # SHARED frame but disjoint beyond frame 0 still collide — both
    # forms must equal brute force over shared frames (nonempty
    # shared set is guaranteed here: frame 0 is always shared)
    assert via_frames == want
    assert via_clipmaps == want


def test_clipmaps_clip_missing_probe_frame_raises(spark):
    """A clip without the probe frame would be absent from the banded
    candidates; hamming_pairs_clipmaps must fail loudly instead of
    returning a result that silently lacks its pairs."""
    from vsphere_event_streaming_spark.functions.dedup import (
        hamming_pairs_clipmaps,
    )

    # clips 1 and 2 are identical on frames 1-2; clip 2 lacks frame 0
    cdf = spark.createDataFrame(
        [(1, [0, 1, 2], [5, 6, 7]), (2, [1, 2], [6, 7])],
        "id long, fs array<int>, hs array<bigint>",
    )
    with pytest.raises(Exception, match="clip 2 has no hash for probe"):
        hamming_pairs_clipmaps(cdf, "id", "fs", "hs", 1).collect()


def test_avi_clip_synth_matches_frame_synth(spark):
    """synth_cell_avi_clip_hashes exploded == the per-frame
    synth_cell_avi_frame_hashes rows (they share _avi_clip_hash_walk;
    this pins the fused-array stage to the per-frame contract)."""
    from pyspark.sql import functions as F

    from vsphere_event_streaming_spark.functions.multimodal import (
        synth_cell_avi_clip_hashes,
        synth_cell_avi_frame_hashes,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "zeta")],
        "doc_id long, text string",
    )
    per_frame = {
        (r.media_id, r.frame_idx, r.phash)
        for r in synth_cell_avi_frame_hashes(
            docs, "doc_id", "text", every_ms=1000
        ).collect()
    }
    per_clip = {
        (r.media_id, r.f, r.h)
        for r in synth_cell_avi_clip_hashes(
            docs, "doc_id", "text", every_ms=1000
        )
        .select(
            "media_id",
            F.explode(F.arrays_zip("fs", "hs")).alias("z"),
        )
        .select("media_id", F.col("z.fs").alias("f"), F.col("z.hs").alias("h"))
        .collect()
    }
    assert per_clip == per_frame
