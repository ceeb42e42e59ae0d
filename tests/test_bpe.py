"""Trained-merge BPE: independent pure-Python reference + properties.

The reference implementation here shares NO code with
``functions/bpe.py`` (dict-of-Counters, not DataFrames) — the same
discipline as ``test_dedup_reference_impl.py``: the Spark engine, the
DuckDB oracle, and this reference must three-way agree, so a bug in
any one of them surfaces as a disagreement.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from vsphere_event_streaming_spark.functions import bpe
from vsphere_event_streaming_spark.functions.bpe import (
    DEFAULT_MERGES,
    MARKER,
    WORD_RE,
    WORD_RE_FULL,
    apply_bpe,
    bpe_token_counts,
    learn_bpe,
    word_vocab,
)

SF_DIR = "/root/testdata/sf0.001"


def ref_vocab(texts, word_re=r"[a-z]+"):
    vocab = Counter()
    for t in texts:
        vocab.update(re.findall(word_re, t.lower()))
    return vocab


def ref_learn(vocab, k):
    reprs = {w: " ".join(MARKER + c for c in w) for w in vocab}
    merges = []
    for _ in range(k):
        pairs = Counter()
        for w, cnt in vocab.items():
            toks = reprs[w].split(" ")
            for a, b in zip(toks, toks[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        (x, y), _ = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((x, y))
        pat, rep = f"{x} {y}", x + y[1:]
        reprs = {w: r.replace(pat, rep) for w, r in reprs.items()}
    return merges


def ref_tokenize(word, merges):
    r = " ".join(MARKER + c for c in word)
    for x, y in merges:
        r = r.replace(f"{x} {y}", x + y[1:])
    return r.split(" ")


def test_learned_merges_match_reference(spark):
    texts = [
        r.text
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("text")
        .collect()
    ]
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = learn_bpe(word_vocab(docs), DEFAULT_MERGES)
    want = ref_learn(ref_vocab(texts), DEFAULT_MERGES)
    assert got == want


def test_token_counts_match_reference(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    merges = learn_bpe(word_vocab(docs), DEFAULT_MERGES)
    out = {
        r.doc_id: (r.n_words, r.bpe_tokens)
        for r in bpe_token_counts(docs, merges).collect()
    }
    rows = docs.select("doc_id", "text").collect()
    for r in rows:
        ws = re.findall(r"[a-z]+", r.text.lower())
        want = (len(ws), sum(len(ref_tokenize(w, merges)) for w in ws))
        assert out[r.doc_id] == want, r.doc_id


def test_full_alphabet_matches_reference(spark):
    """WORD_RE_FULL (VERDICT_r6 #5): training over [a-z0-9']+ must
    three-way agree too — merges AND per-doc counts vs the pure-Python
    reference running the same widened regex. Also asserts the widened
    vocabulary actually differs (digits/apostrophes present in the
    corpus), so this isn't vacuously re-checking WORD_RE."""
    from vsphere_event_streaming_spark.functions.bpe import WORD_RE_FULL

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    texts = [r.text for r in docs.select("text").collect()]
    got = learn_bpe(
        word_vocab(docs, word_re=WORD_RE_FULL), DEFAULT_MERGES
    )
    full_vocab = ref_vocab(texts, WORD_RE_FULL)
    assert got == ref_learn(full_vocab, DEFAULT_MERGES)
    out = {
        r.doc_id: (r.n_words, r.bpe_tokens)
        for r in bpe_token_counts(
            docs, got, word_re=WORD_RE_FULL
        ).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        ws = re.findall(WORD_RE_FULL, r.text.lower())
        want = (len(ws), sum(len(ref_tokenize(w, got)) for w in ws))
        assert out[r.doc_id] == want, r.doc_id


def test_full_alphabet_differs_on_digit_corpus(spark):
    """The driver corpus is pure [a-z] words, so the widened-alphabet
    query matches the narrow one there; this fixture proves the
    widening actually CHANGES behavior — "don't"/"2024"/"gpt4" are
    single words under WORD_RE_FULL ("don t" split + dropped digits
    under WORD_RE) — and stays three-way consistent on it."""
    from vsphere_event_streaming_spark.functions.bpe import WORD_RE_FULL

    texts = [
        "don't stop gpt4 in 2024 don't stop",
        "it's gpt4 again it's 2024 again and again",
        "plain words only here",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    k = 6
    narrow = learn_bpe(word_vocab(docs), k)
    wide = learn_bpe(word_vocab(docs, word_re=WORD_RE_FULL), k)
    assert wide == ref_learn(ref_vocab(texts, WORD_RE_FULL), k)
    assert narrow == ref_learn(ref_vocab(texts), k)
    assert wide != narrow
    out = {
        r.doc_id: (r.n_words, r.bpe_tokens)
        for r in bpe_token_counts(
            docs, wide, word_re=WORD_RE_FULL
        ).collect()
    }
    for i, t in enumerate(texts):
        ws = re.findall(WORD_RE_FULL, t.lower())
        assert out[i] == (
            len(ws),
            sum(len(ref_tokenize(w, wide)) for w in ws),
        ), i


def test_bpe_vocab_empty_store_raises(spark, tmp_path):
    """vocab()/train() on a store with no ingested batches must raise
    the typed error, not an opaque AnalysisException (ADVICE r6)."""
    from vsphere_event_streaming_spark.functions.bpe import BpeVocab

    idx = BpeVocab(spark, f"{tmp_path}/bpe_vocab_empty")
    with pytest.raises(ValueError, match="no ingested batches"):
        idx.vocab()


def test_marker_prevents_cross_token_merges(spark):
    """'xel' contains the character pair (e, l) PRECEDED by x: after
    'xe' fuses, a markerless replace of 'e l' would corrupt '·xe ·l'.
    The marker makes the fused-token case structurally unmatchable."""
    df = spark.createDataFrame([("xel",), ("el",)], "word string")
    # merges chosen adversarially, not learned
    merges = [(f"{MARKER}x", f"{MARKER}e"), (f"{MARKER}e", f"{MARKER}l")]
    toks = {
        r.word: r.t
        for r in df.select(
            "word", apply_bpe(F.col("word"), merges).alias("t")
        ).collect()
    }
    assert toks["el"] == [f"{MARKER}el"]
    # '·x ·e ·l' -> merge1 -> '·xe ·l'; merge2 must NOT touch it
    assert toks["xel"] == [f"{MARKER}xe", f"{MARKER}l"]
    assert toks["xel"] == ref_tokenize("xel", merges)


def test_learn_bpe_stops_when_pairs_exhaust(spark):
    docs = spark.createDataFrame(
        [(1, "ab ab ab"), (2, "ab")], "doc_id long, text string"
    )
    merges = learn_bpe(word_vocab(docs), num_merges=10)
    # one merge fully fuses the only word; no pairs remain
    assert merges == [(f"{MARKER}a", f"{MARKER}b")]
    out = {r.doc_id: r.bpe_tokens for r in
           bpe_token_counts(docs, merges).collect()}
    assert out == {1: 3, 2: 1}


#: The digit/apostrophe corpus of the full-alphabet tests.
DIGIT_TEXTS = [
    "don't stop gpt4 in 2024 don't stop",
    "it's gpt4 again it's 2024 again and again",
    "plain words only here",
]

#: Tie-dense counts over non-ASCII and emoji words. "ｚ" (U+FF5A) sorts
#: above every UTF-16 surrogate but below "😀" (U+1F600) in code-point
#: order, which is Spark's UTF-8 binary order: a UTF-16 comparison
#: would flip the tie between ("ｚ", "😀") and ("😀", "ｚ").
TIE_DENSE = Counter({
    "😀ｚ": 2, "ｚ😀": 2, "éa": 2, "aé": 2, "ßß": 2, "👍🏽": 2,
    "ab": 2, "ba": 2, "abab": 1, "ñandú": 1, "über": 1, "naïve": 1,
})


def _corpus_case(spark, texts=None, word_re=WORD_RE, k=DEFAULT_MERGES):
    if texts is None:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        texts = [r.text for r in docs.select("text").collect()]
    else:
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
    return word_vocab(docs, word_re=word_re), ref_vocab(texts, word_re), k


def _counts_case(spark, counts, k):
    frame = spark.createDataFrame(list(counts.items()), "word string, cnt long")
    return frame, counts, k


PARITY_CASES = {
    "sf0.001": lambda s: _corpus_case(s),
    "sf0.001-no-merges": lambda s: _corpus_case(s, k=0),
    "full-alphabet-digits": lambda s: _corpus_case(
        s, DIGIT_TEXTS, WORD_RE_FULL, 6
    ),
    "pairs-exhaust": lambda s: _corpus_case(s, ["ab ab ab", "ab"], k=10),
    "empty-vocab": lambda s: _counts_case(s, Counter(), DEFAULT_MERGES),
    "tie-dense-unicode": lambda s: _counts_case(s, TIE_DENSE, 20),
}


@pytest.mark.parametrize("path", ["driver", "spark-loop"])
@pytest.mark.parametrize("case", list(PARITY_CASES))
def test_both_learner_paths_match_reference(spark, monkeypatch, case, path):
    """learn_bpe trains a vocabulary within TRAIN_VOCAB_WORDS on the
    driver and a larger one with the Spark loop; both must equal the
    reference. A cap of -1 puts every vocabulary, even an empty one,
    over it."""
    if path == "spark-loop":
        monkeypatch.setattr(bpe, "TRAIN_VOCAB_WORDS", -1)
    vocab, ref, k = PARITY_CASES[case](spark)
    assert learn_bpe(vocab, k) == ref_learn(ref, k)


def test_bounded_vocab_trains_in_at_most_two_jobs(spark):
    """The spine's sf0.01 vocabulary is within the cap: one collect
    (at most 2 jobs) replaces the loop's one aggregation job and one
    argmax job per merge (26 jobs for its 12 merges)."""
    sf0_01 = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    docs = spark.read.parquet(f"{sf0_01}/documents.parquet")
    vocab = word_vocab(docs)
    sc = spark.sparkContext
    sc.setJobGroup("bounded-bpe-train", "bounded-bpe-train")
    try:
        merges = learn_bpe(vocab)
        jobs = sc.statusTracker().getJobIdsForGroup("bounded-bpe-train")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(merges) == DEFAULT_MERGES
    assert 1 <= len(jobs) <= 2, jobs


def test_no_word_docs_keep_zero_counts(spark):
    docs = spark.createDataFrame(
        [(1, "abc abc"), (2, "123 !!"), (3, None)],
        "doc_id long, text string",
    )
    merges = learn_bpe(word_vocab(docs), num_merges=2)
    out = {
        r.doc_id: (r.n_words, r.bpe_tokens)
        for r in bpe_token_counts(docs, merges).collect()
    }
    assert out[2] == (0, 0)
    assert out[3] == (0, 0)
    assert out[1][0] == 2


def test_tiered_vocab_join_matches_plain_join(spark):
    """r13 (VERDICT_r12 #2): the tiered head/tail vocabulary join —
    top-K head force-broadcast, unbounded tail shuffle-joined — must
    be RESULT-IDENTICAL to the plain inner join it bounds, at every
    cap: all-tail (0), split (tail genuinely non-empty), all-head
    (≥ vocab). Degenerate caps exercise each tier alone."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    merges = learn_bpe(word_vocab(docs), num_merges=4)
    plain = {
        (r.doc_id): (r.n_words, r.bpe_tokens)
        for r in bpe_token_counts(docs, merges).collect()
    }
    n_vocab = word_vocab(docs).count()
    for cap in (0, 7, n_vocab + 10):
        tiered = {
            (r.doc_id): (r.n_words, r.bpe_tokens)
            for r in bpe_token_counts(
                docs, merges, head_words=cap
            ).collect()
        }
        assert tiered == plain, f"head_words={cap} diverged"
    assert 0 < 7 < n_vocab, "split cap must leave both tiers non-empty"


def test_tiered_join_head_is_top_by_count(spark):
    """The head tier must be the TOP-K words by corpus count (ties by
    word) — the Zipf argument that bounds the shuffled tail traffic
    depends on it. Checked through the helper's own head selection
    logic, against an independently computed top-K."""
    from vsphere_event_streaming_spark.functions.bpe import (
        join_tokenized_vocab,
    )

    vtok = spark.createDataFrame(
        [("aa", 100, 1), ("bb", 100, 2), ("cc", 50, 1), ("dd", 7, 3)],
        "word string, cnt long, wtoks int",
    )
    occ = spark.createDataFrame(
        [("d1", "aa", 5), ("d1", "dd", 1), ("d2", "cc", 2)],
        "doc_id string, word string, occ long",
    )
    out = {
        (r.doc_id, r.word): r.wtoks
        for r in join_tokenized_vocab(occ, vtok, head_words=2).collect()
    }
    # head = {aa, bb} (count ties broken by word); dd + cc resolve
    # through the tail — and every occurrence row survives exactly once
    assert out == {("d1", "aa"): 1, ("d1", "dd"): 3, ("d2", "cc"): 1}


def test_pack_sequences_takes_bpe_budget(spark):
    """VERDICT_r5 #2: the packer meters a trained-subword budget when
    given one — pack boundaries computed from BPE counts, verified
    against a hand-rolled running sum."""
    from vsphere_event_streaming_spark.functions.sampling import (
        pack_sequences,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    merges = learn_bpe(word_vocab(docs), DEFAULT_MERGES)
    counted = docs.join(
        bpe_token_counts(docs, merges).select("doc_id", "bpe_tokens"),
        "doc_id",
    )
    budget = 4096
    packed = pack_sequences(
        counted, budget, n_tokens_col="bpe_tokens"
    ).collect()
    by_lang: dict[str, list] = {}
    for r in sorted(packed, key=lambda r: (r.lang, r.doc_id)):
        by_lang.setdefault(r.lang, []).append(r)
    bpe = {
        r.doc_id: r.bpe_tokens
        for r in counted.select("doc_id", "bpe_tokens").collect()
    }
    for rows in by_lang.values():
        run = 0
        for r in rows:
            assert r.n_tokens == bpe[r.doc_id]  # BPE, not whitespace
            assert r.pack_id == run // budget
            run += r.n_tokens


def test_pack_sequences_default_budget_unchanged(spark):
    """The n_tokens_col extension must not disturb the oracled default
    (q_pack_sequences meters whitespace tokens)."""
    from vsphere_event_streaming_spark.functions.sampling import (
        pack_sequences,
    )
    from vsphere_event_streaming_spark.functions.text import token_count

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    out = pack_sequences(docs, 512).select("doc_id", "n_tokens")
    want = docs.select(
        "doc_id", token_count(F.col("text")).cast("bigint").alias("n")
    )
    diff = out.join(want, "doc_id").filter(F.col("n_tokens") != F.col("n"))
    assert diff.count() == 0


def test_bpe_second_order_merges_learned(spark):
    """At every test SF the 12-merge table must contain at least one
    second-order merge (a pair whose halves are themselves merged
    tokens) — the property separating trained BPE from a frequency
    table of character bigrams."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    merges = learn_bpe(word_vocab(docs), DEFAULT_MERGES)
    assert len(merges) == DEFAULT_MERGES
    assert any(
        len(x) > 2 or len(y) > 2 for x, y in merges
    ), merges


def test_bpe_vocab_incremental_batches(spark, tmp_path):
    """BpeVocab: three ingested batches train to BIT-IDENTICAL merges
    vs a from-scratch train over the whole corpus (count additivity),
    and a replayed batch overwrites instead of double-counting."""
    from vsphere_event_streaming_spark.functions.bpe import BpeVocab

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    full = learn_bpe(word_vocab(docs), DEFAULT_MERGES)

    idx = BpeVocab(spark, f"{tmp_path}/bpe_vocab")
    for b in range(3):
        idx.add_batch(docs.filter(F.col("doc_id") % 3 == b), f"b{b}")
    assert idx.train(DEFAULT_MERGES) == full

    # replay: batch b1 again — counts must not double
    idx.add_batch(docs.filter(F.col("doc_id") % 3 == 1), "b1")
    assert idx.train(DEFAULT_MERGES) == full
    merged = {r.word: r.cnt for r in idx.vocab().collect()}
    want = {r.word: r.cnt for r in word_vocab(docs).collect()}
    assert merged == want


def test_bpe_vocab_rejects_bad_batch_id(spark, tmp_path):
    from vsphere_event_streaming_spark.functions.bpe import BpeVocab

    idx = BpeVocab(spark, f"{tmp_path}/bpe_vocab2")
    docs = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="filesystem-safe"):
        idx.add_batch(docs, "../evil")


def test_bpe_vocab_pins_training_alphabet(spark, tmp_path):
    """ADVICE r7: counts under different alphabets are not additive —
    a store built under WORD_RE must refuse a WORD_RE_FULL handle (at
    construction AND at ingest), and a full-alphabet store must train
    over the widened stream it was pinned to."""
    from vsphere_event_streaming_spark.functions.bpe import (
        WORD_RE_FULL,
        BpeVocab,
    )

    docs = spark.createDataFrame(
        [(1, "don't stop 42 times"), (2, "stop don't go 42")],
        "doc_id long, text string",
    )
    path = f"{tmp_path}/bpe_vocab_alpha"
    narrow = BpeVocab(spark, path)
    narrow.add_batch(docs, "b0")
    with pytest.raises(ValueError, match="alphabet"):
        BpeVocab(spark, path, word_re=WORD_RE_FULL)

    # a separate full-alphabet store counts apostrophes/digits and
    # matches the from-scratch full-alphabet vocabulary exactly
    full_path = f"{tmp_path}/bpe_vocab_full"
    full = BpeVocab(spark, full_path, word_re=WORD_RE_FULL)
    full.add_batch(docs.filter(F.col("doc_id") == 1), "b0")
    full.add_batch(docs.filter(F.col("doc_id") == 2), "b1")
    merged = {r.word: r.cnt for r in full.vocab().collect()}
    want = {
        r.word: r.cnt
        for r in word_vocab(docs, word_re=WORD_RE_FULL).collect()
    }
    assert merged == want
    assert "don't" in merged and "42" in merged
    # narrow store never saw them
    narrow_words = {r.word for r in narrow.vocab().collect()}
    assert "don't" not in narrow_words and "42" not in narrow_words


def test_bpe_vocab_refuses_markerless_partitions(spark, tmp_path):
    """ADVICE r9: a crash between the first partition write and the
    _ALPHABET marker write leaves partitions with NO marker — an
    ambiguous-alphabet store. Every open (construction, ingest,
    vocab) must raise instead of validating nothing: a DIFFERENT-
    alphabet handle that slipped through would stamp ITS marker on
    the next add_batch and silently merge non-additive counts.
    Mirror of store.py::BatchStore._check_marker's crash-remnant branch."""
    import os

    from vsphere_event_streaming_spark.functions.bpe import (
        WORD_RE_FULL,
        BpeVocab,
    )

    docs = spark.createDataFrame(
        [(1, "don't stop 42 times")], "doc_id long, text string"
    )
    path = f"{tmp_path}/bpe_vocab_remnant"
    idx = BpeVocab(spark, path)
    idx.add_batch(docs, "b0")
    # simulate the crash window: partition on disk, marker gone
    os.remove(os.path.join(path, BpeVocab.ALPHABET_FILE))

    # same-alphabet reopen: refused (alphabet is ambiguous)
    with pytest.raises(ValueError, match="no _ALPHABET marker"):
        BpeVocab(spark, path)
    # DIFFERENT-alphabet reopen: refused — this is the silent
    # garbage-merge path the guard exists for
    with pytest.raises(ValueError, match="no _ALPHABET marker"):
        BpeVocab(spark, path, word_re=WORD_RE_FULL)
    # an already-open handle must also refuse to ingest or read
    with pytest.raises(ValueError, match="no _ALPHABET marker"):
        idx.add_batch(docs, "b1")
    with pytest.raises(ValueError, match="no _ALPHABET marker"):
        idx.vocab()
    # ...and the refusal must not have stamped a fresh marker
    assert not os.path.isfile(os.path.join(path, BpeVocab.ALPHABET_FILE))


def test_bpe_merge_table_trains_once_per_corpus_and_alphabet(
    spark, monkeypatch
):
    """VERDICT_r8 #3: the four BPE queries share ONE trained merge
    table per (corpus fingerprint, alphabet) — running them all,
    twice, must train exactly twice total (default alphabet + full
    alphabet), not once per call; and the memoized merges must be
    the same object the direct training produces."""
    from collections import OrderedDict

    from vsphere_event_streaming_spark import state
    from vsphere_event_streaming_spark.queries import pipeline_queries as pq
    from vsphere_event_streaming_spark.functions.bpe import (
        WORD_RE_FULL,
        learn_bpe,
        word_vocab,
    )

    monkeypatch.setattr(state, "_TRAINED", OrderedDict())
    before = state.BUILDS["bpe"]
    for _ in range(2):
        pq.q_bpe_tokens(spark, SF_DIR).collect()
        pq.q_bpe_tokens_full(spark, SF_DIR).collect()
        pq.q_pack_bpe(spark, SF_DIR).collect()
        pq.q_pack_chunked(spark, SF_DIR).collect()
        pq.q_bpe_fertility(spark, SF_DIR).collect()
    trained = state.BUILDS["bpe"] - before
    assert trained == 2, (
        f"expected exactly 2 trainings (one per alphabet), got {trained}"
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    keys = [k for kind, k in state._TRAINED if kind == "bpe"]
    assert len(keys) == 2
    default_key = next(k for k in keys if k[-2] is None)
    full_key = next(k for k in keys if k[-2] == WORD_RE_FULL)
    assert state._TRAINED["bpe", default_key] == learn_bpe(word_vocab(docs))
    assert state._TRAINED["bpe", full_key] == learn_bpe(
        word_vocab(docs, word_re=WORD_RE_FULL)
    )


def test_bpe_vocab_marker_only_dir_gets_typed_error(spark, tmp_path):
    """ADVICE r8: a crash between the marker write and the first
    parquet write used to leave a directory that passed the isdir
    check and died in vocab() with an opaque AnalysisException —
    vocab() now requires an actual batch_id= partition, and
    add_batch() writes the marker only AFTER a successful write."""
    import os

    from vsphere_event_streaming_spark.functions.bpe import BpeVocab

    path = str(tmp_path / "bpe_marker_only")
    os.makedirs(path)
    with open(os.path.join(path, BpeVocab.ALPHABET_FILE), "w") as fh:
        fh.write("[a-z]+")
    with pytest.raises(ValueError, match="no ingested batches"):
        BpeVocab(spark, path).vocab()

    # a real ingest writes the marker after the batch partition
    docs = spark.createDataFrame(
        [(1, "alpha beta beta")], "doc_id long, text string"
    )
    p2 = str(tmp_path / "bpe_real")
    store = BpeVocab(spark, p2)
    store.add_batch(docs, "b0")
    assert os.path.isfile(os.path.join(p2, BpeVocab.ALPHABET_FILE))
    assert any(
        e.startswith("batch_id=") for e in os.listdir(p2)
    )
    assert {r.word for r in store.vocab().collect()} == {"alpha", "beta"}
