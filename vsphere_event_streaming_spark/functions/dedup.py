"""Deduplication operators (SURVEY §2.11 L1-L2).

Four strategies, each chosen for a different scale/recall point:

- **exact**: hash-groupBy on normalized text. One shuffle on the
  group key; at 100 TB, group keys are hashes so the shuffle carries
  ~16 bytes/row, not documents.
- **n-gram Jaccard (exact pairwise)**: shingle-explode → self-join on
  shingle (inverted-index blocking) → per-pair intersection counts →
  exact Jaccard. Only pairs sharing ≥1 shingle are ever materialized;
  no cross join exists anywhere in the plan.
- **MinHash + LSH**: arithmetic minhash signatures (`(a*h+b) mod p`
  over shingle hashes — engine-reproducible, no library hash), banded
  into buckets; candidate pairs are bucket-collisions only. The scale
  path: signature size is constant per doc, the band join carries
  band-hash keys.
- **SimHash**: 16-bit fingerprints from word-hash bit votes; equal
  fingerprints ⇒ near-dup candidates. Cheapest, lowest recall.

All computation is column expressions (split/transform/aggregate/
explode) — JVM-side, codegen-friendly, no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..state import persist, scoped
from ..store import BatchStore, batch_partition_dir
from .text import HASH_MOD, md5_hash, words, ws_strip

#: (a, b) parameters for the minhash family h_i(x) = (a_i*x + b_i) mod p.
#: Fixed, public constants — determinism across engines and runs.
MINHASH_PARAMS = [
    (2971215073, 433494437),
    (2654435761, 97531),
    (2246822519, 514229),
    (3266489917, 39916801),
    (668265263, 28657),
    (374761393, 75025),
    (3103515807, 17711),
    (1540483477, 121393),
]
MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32


def normalize_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace.

    The whitespace class is explicit — Java regex ``\\s`` includes
    vertical tab (\\x0B) while RE2 (the DuckDB oracle) does not; the
    explicit class means both engines normalize identically. After
    the collapse, edges can only hold ' ' (from the collapse) or
    non-class characters, so the final strip is spaces-only — stated
    as an anchored regexp here and ``trim(x, ' ')`` in the oracle,
    because each engine's bare trim eats a different character set.
    """
    collapsed = F.regexp_replace(text, "[ \\t\\n\\r\\f\\x0B]+", " ")
    return F.lower(F.regexp_replace(collapsed, "^ +| +$", ""))


def exact_dedup_keepers(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """L1: one keeper (min id) per normalized-text group.

    The group key is ``md5(normalized_text)``, not the text: identical
    groups (collision odds ~n²/2¹²⁸ — nil at any corpus size), but the
    shuffle carries 16-byte keys instead of whole documents. At 100 TB
    this is the difference between shuffling the corpus and shuffling
    ~2% of it.
    """
    return (
        df.groupBy(F.md5(normalize_text(F.col(text_col))).alias("__nh"))
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("copies"),
        )
        .drop("__nh")
        .select("keeper_id", "copies")
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """L2 exact: all pairs (a<b) with shingle-set Jaccard ≥ threshold.

    Inverted-index self-join over *hashed* shingles: a pair is
    produced once per shared shingle, aggregated to an intersection
    count, then scored with a length filter (jac ≥ t ⇒ t·|B| ≤ |A|)
    applied before the division. Shuffle rows are three int64s; pairs
    sharing nothing never exist in the plan. Skew note: a shingle
    shared by k docs contributes k² pair rows — for web-scale corpora
    add stop-shingle pruning / ppjoin prefix filtering on top; the
    oracle replays exactly this algorithm.
    """
    sh = shingle_hash_table(docs, text_col, id_col, n)
    a = sh.select(
        F.col("id").alias("id_a"), F.col("n_sh").alias("na"), "sh"
    )
    b = sh.select(
        F.col("id").alias("id_b"), F.col("n_sh").alias("nb"), "sh"
    )
    inter = (
        a.join(b, "sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # length filter: a necessary condition for jac >= t
            & (F.col("na") >= threshold * F.col("nb"))
            & (F.col("nb") >= threshold * F.col("na"))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    ).cast("double")
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """L2j (r13): ASYMMETRIC containment — pairs where the smaller
    document's shingle set is (almost) a subset of the larger's:
    ``C(small→big) = |S∩B| / |S| ≥ threshold`` with ``n_small <
    n_big`` strictly. This is the quote/embedding detector symmetric
    Jaccard structurally misses: a tweet pasted into a long article
    has Jaccard ≈ |tweet|/|article| ≈ 0 but containment ≈ 1, and
    dedup policy for containment (keep the superset, or keep both)
    differs from near-dup policy — so it is its own operator in
    every web-corpus pipeline.

    Same inverted-index shape as :func:`jaccard_pairs` (shared
    shingles aggregated to an intersection count; shuffle rows are
    three int64s; the same stop-shingle skew note applies at web
    scale), with the asymmetric length filter ``na < nb`` applied
    pre-aggregation: containment needs no upper length bound on the
    big side, so only the strict size ordering prunes."""
    sh = shingle_hash_table(docs, text_col, id_col, n)
    a = sh.select(
        F.col("id").alias("id_small"), F.col("n_sh").alias("n_small"), "sh"
    )
    b = sh.select(
        F.col("id").alias("id_big"), F.col("n_sh").alias("n_big"), "sh"
    )
    inter = (
        a.join(b, "sh")
        .filter(F.col("n_small") < F.col("n_big"))
        .groupBy("id_small", "id_big", "n_small", "n_big")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cont = F.col("common").cast("double") / F.col("n_small").cast("double")
    return (
        inter.withColumn("containment", F.round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select("id_small", "id_big", "n_small", "n_big", "containment")
    )


def char_shingle_hash_arrays(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """(id, sh_arr, n_sh): distinct character-n-gram hash array.

    Character shingles (vs word shingles) are the standard choice for
    cross-language text and code, where token boundaries are unreliable.
    Same plan shape as :func:`shingle_hash_arrays`: cheap pre-shuffle
    length filter, md5 built-in per shingle, persist barrier.
    """
    from ..tables import spread

    docs = spread(docs).filter(
        F.length(ws_strip(F.col(text_col))) >= n
    )
    t = F.lower(ws_strip(F.col(text_col)))
    sh = F.transform(
        F.sequence(F.lit(1), F.length(t) - (n - 1)),
        lambda i: md5_hash(t.substr(i.cast("int"), F.lit(n))),
    )
    return persist(
        docs.select(
            F.col(id_col).alias("id"), F.array_distinct(sh).alias("sh_arr")
        ).withColumn("n_sh", F.size("sh_arr"))
    )


def jaccard_pairs_char(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Character-n-gram Jaccard pairs (a<b) ≥ threshold — the same
    inverted-index + length-filter pipeline as :func:`jaccard_pairs`
    over character shingles."""
    arrs = char_shingle_hash_arrays(docs, text_col, id_col, n)
    sh = arrs.select("id", "n_sh", F.explode("sh_arr").alias("sh"))
    a = sh.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"), "sh")
    b = sh.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("na") >= threshold * F.col("nb"))
            & (F.col("nb") >= threshold * F.col("na"))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    ).cast("double")
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs_pruned(
    docs: DataFrame,
    threshold: float,
    max_doc_freq: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """L2 at web scale: exact Jaccard on the stop-shingle-pruned universe.

    A shingle appearing in k docs contributes k² rows to the inverted-
    index join — ubiquitous shingles (boilerplate, templates) dominate
    that Σk² cost while carrying no discriminative signal. This drops
    shingles with document frequency > ``max_doc_freq`` *globally*
    (from every doc's set), then computes exact Jaccard over the pruned
    sets: deterministic, engine-reproducible, and the join cost is
    capped at ``max_doc_freq²`` rows per surviving shingle.

    Plan — one pass over the persisted shingle arrays feeds both
    stages, and the prune happens in ARRAY form so no per-occurrence
    shuffles are spent on it:

    1. df-count aggregate over the exploded persisted arrays → the
       frequent-shingle list, collapsed to ONE array row. The list is
       the head of the Zipf curve (df > max_doc_freq), so it is small
       by construction — the same memory envelope a broadcast
       anti-join hash table would need.
    2. 1-row broadcast nested-loop join attaches that list to every
       doc; ``array_except`` prunes each doc's shingle set in place,
       yielding the pruned set AND its size (``size(arr)``) with zero
       shuffle — this replaces the old anti-join + per-doc recount
       groupBy + doc-sized re-join (two shuffles and an
       occurrence-sized persist).
    3. The compact (id, pruned_arr, n_sh2) table persists (doc-sized
       rows — far slimmer than the old occurrence-sized persist),
       explodes into both self-join sides, and runs the same capped
       intersection pipeline as :func:`jaccard_pairs`. The persist is
       measured, not assumed: without it each join side re-runs the
       freq-list aggregation and ``array_except`` (interleaved A/B at
       sf0.1: median 1.9 s vs 1.4 s with the persist).

    Measured negative result (recorded so it is not re-tried blind):
    ppjoin-style prefix filtering — explode only the first
    ``n − ⌈t·n⌉ + 1`` elements of each globally-sorted set into the
    candidate join (exactness-preserving: two sets at Jaccard ≥ t
    share their smallest common element inside both prefixes), then
    re-score candidates via ``array_intersect`` on the full arrays —
    was implemented and interleaved-A/B'd at sf0.1: 1.37 s → 2.93 s
    at 1× and 9.4 s → 13.2 s at 10× replicas, strictly slower. These
    docs are short (≤ ~30 words), so halving the exploded rows saves
    less than the added ``array_sort``, the candidate ``distinct``
    shuffle, and two array-payload re-score joins cost. Revisit only
    for corpora with hundreds of shingles per doc, where the prefix
    ratio actually bites.
    """
    kept = _pruned_shingle_table(docs, max_doc_freq, text_col, id_col, n)
    a = kept.select(
        F.col("id").alias("id_a"),
        F.col("n_sh2").alias("na"),
        F.explode("arr2").alias("sh"),
    )
    b = kept.select(
        F.col("id").alias("id_b"),
        F.col("n_sh2").alias("nb"),
        F.explode("arr2").alias("sh"),
    )
    inter = (
        a.join(b, "sh")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("na") >= threshold * F.col("nb"))
            & (F.col("nb") >= threshold * F.col("na"))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    ).cast("double")
    return (
        inter.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _pruned_shingle_table(
    docs: DataFrame,
    max_doc_freq: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """The persisted stop-shingle-pruned ``(id, arr2, n_sh2)`` table
    (df > max_doc_freq dropped globally, in ARRAY form via one 1-row
    broadcast + array_except — the jaccard_pairs_pruned plan notes) —
    shared by the symmetric (jaccard) and asymmetric (containment)
    pruned scorers so the pruned universe can never drift between
    them. Caller releases via ``state.release_cached()``."""
    arrs = shingle_hash_arrays(docs, text_col, id_col, n)
    sh = arrs.select("id", F.explode("sh_arr").alias("sh"))
    freq_row = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_doc_freq)
        .agg(F.collect_set("sh").alias("freq"))
    )
    kept = (
        arrs.join(F.broadcast(freq_row))
        .select(
            "id", F.array_except("sh_arr", "freq").alias("arr2")
        )
        .withColumn("n_sh2", F.size("arr2"))
        .filter(F.col("n_sh2") > 0)
    )
    return persist(kept)


def containment_pairs_pruned(
    docs: DataFrame,
    threshold: float,
    max_doc_freq: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """L2j at web scale: asymmetric containment over the
    stop-shingle-pruned universe — the SCALE PATH for
    :func:`containment_pairs` (r13). MinHash banding cannot serve
    containment (collision probability tracks symmetric Jaccard, and
    a high-containment pair of very different sizes has jac ≈
    n_small/n_big ≈ 0), so the join bound comes from the df cap
    instead: dropping shingles with document frequency >
    ``max_doc_freq`` globally caps the inverted-index join at df²
    rows per surviving shingle — exactly the
    :func:`jaccard_pairs_pruned` argument, over the SAME pruned
    table (shared ``_pruned_shingle_table``). Containment is then
    exact over the pruned sets (deterministic, engine-reproducible;
    sizes are the pruned sizes, like the pruned-jaccard contract)."""
    kept = _pruned_shingle_table(docs, max_doc_freq, text_col, id_col, n)
    a = kept.select(
        F.col("id").alias("id_small"),
        F.col("n_sh2").alias("n_small"),
        F.explode("arr2").alias("sh"),
    )
    b = kept.select(
        F.col("id").alias("id_big"),
        F.col("n_sh2").alias("n_big"),
        F.explode("arr2").alias("sh"),
    )
    inter = (
        a.join(b, "sh")
        .filter(F.col("n_small") < F.col("n_big"))
        .groupBy("id_small", "id_big", "n_small", "n_big")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cont = F.col("common").cast("double") / F.col("n_small").cast("double")
    return (
        inter.withColumn("containment", F.round(cont, 6))
        .filter(F.col("containment") >= threshold)
        .select("id_small", "id_big", "n_small", "n_big", "containment")
    )


#: Multipliers combining three word-hashes into one shingle hash.
#: Max value: (1e9+7)·(769+257+1) < 1.1e12 — safely inside int64.
SHINGLE_P1 = 769
SHINGLE_P2 = 257


def word_hash_array(text: Column) -> Column:
    """Per-word md5-derived hashes (computed once per document).

    Uses :func:`text.md5_hash`, not the per-character rolling hash:
    the md5/conv built-ins evaluate natively in the JVM, so hashing is
    O(words) cheap native calls instead of O(chars) interpreted
    lambda steps — the difference between minutes and seconds per TB.
    """
    return F.transform(words(text), md5_hash)


def shingle_hash_arrays(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sh_arr, n_sh): distinct shingle-hash array per document.

    Shingle hash = (wh_i·P1 + wh_{i+1}·P2 + wh_{i+2}) mod 1e9+7 over
    the word-hash array — each word is hashed exactly once and each
    shingle combines three int64s, instead of re-folding overlapping
    characters three times. Dedup happens in array form
    (``array_distinct``) so no extra shuffle is spent on it, and the
    per-doc set size rides along with each row.

    Plan shape matters more than the arithmetic here:

    - the short-doc filter is expressed on raw ``words(text)`` so the
      predicate Catalyst pushes below the ``spread`` exchange is a
      cheap split, never the hash chain;
    - the result is **persisted**: higher-order-function chains are
      interpreted (not codegen), so letting Catalyst inline them into
      downstream Generate-inferred filters (``size(sh_arr) > 0``) or
      into both sides of a self-join re-evaluates minutes of CPU.
      The persist is a deliberate pipeline materialization point —
      every consumer (explode, both self-join sides, minhash aggs)
      reads the arrays once. At 100 TB this is the same
      corpus-sized intermediate any MinHash pipeline materializes;
      MEMORY_AND_DISK spills instead of OOMing.
    """
    from ..tables import spread

    assert n == 3, "shingle combiner is specialized for n=3"
    # cheap pre-shuffle filter: same cardinality as size(wh) >= n
    docs = spread(docs).filter(F.size(words(F.col(text_col))) >= n)
    wh = docs.select(
        F.col(id_col).alias("id"), word_hash_array(F.col(text_col)).alias("wh")
    )
    sh = F.transform(
        F.sequence(F.lit(1), F.size("wh") - (n - 1)),
        lambda i: (
            F.element_at(F.col("wh"), i.cast("int")) * SHINGLE_P1
            + F.element_at(F.col("wh"), (i + 1).cast("int")) * SHINGLE_P2
            + F.element_at(F.col("wh"), (i + 2).cast("int"))
        )
        % HASH_MOD,
    )
    return persist(
        wh.select("id", F.array_distinct(sh).alias("sh_arr")).withColumn(
            "n_sh", F.size("sh_arr")
        )
    )


def shingle_hash_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exploded (id, n_sh, sh) distinct shingle-hash rows — the
    inverted-index form. Shuffle rows are three int64s; document text
    never moves after the first projection."""
    arrs = shingle_hash_arrays(docs, text_col, id_col, n)
    return arrs.select("id", "n_sh", F.explode("sh_arr").alias("sh"))


def _minhash_aggs() -> list[Column]:
    """min over shingle hashes of (a·sh + b) mod p, one per family slot."""
    return [
        F.min((F.lit(a) * F.col("sh") + F.lit(b)) % MINHASH_PRIME).alias(
            f"mh{j}"
        )
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    ]


def _signatures_from(sh: DataFrame) -> DataFrame:
    """(id, mh0..mh7) from an exploded (id, sh) shingle-hash table.

    A single partial+final hash aggregate — map-side combine keeps
    shuffle rows at one per (doc, signature), and every hash function
    is plain codegen arithmetic.
    """
    return sh.groupBy("id").agg(*_minhash_aggs())


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, mh0..mh7): min over shingle hashes of (a·sh + b) mod p."""
    return _signatures_from(shingle_hash_table(docs, text_col, id_col, n))


def _band_collision_pairs(sig: DataFrame, band_size: int) -> DataFrame:
    """Distinct (id_a < id_b) pairs whose signatures share a full band.

    Bands of ``band_size`` signature slots become string bucket keys;
    docs sharing any full band collide. The band join shuffles
    (band_key) strings only — constant bytes per doc, independent of
    document length.
    """
    n_bands = len(MINHASH_PARAMS) // band_size
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(i),
                *[F.col(f"mh{i * band_size + j}") for j in range(band_size)],
            )
            for i in range(n_bands)
        ]
    )
    bands = sig.select("id", F.explode(band_keys).alias("band_key"))
    x = bands.select(F.col("id").alias("id_a"), "band_key")
    y = bands.select(F.col("id").alias("id_b"), "band_key")
    return (
        x.join(y, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    band_size: int = 2,
) -> DataFrame:
    """L2 approximate: MinHash-LSH candidate pairs (a<b)."""
    # both join sides read sig: persist so the signature aggregation
    # (and everything under it) runs once, not once per side
    sig = persist(minhash_signatures(docs, text_col, id_col, n))
    return _band_collision_pairs(sig, band_size)


def lsh_verified_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    band_size: int = 2,
) -> DataFrame:
    """L2 canonical near-dup at 100 TB: LSH candidates → exact Jaccard
    re-score of *candidates only*.

    This is the pipeline a web-scale dedup actually runs: the band
    join bounds candidate generation at constant bytes per doc (never
    the Σk² inverted-index blow-up of :func:`jaccard_pairs`), and the
    exact re-score touches only the candidate pairs — shingle arrays
    move once per surviving candidate, not once per shared shingle.

    One shingle table feeds both stages: ``shingle_hash_arrays`` is
    persisted, the signature aggregate reads its exploded form, and
    the re-score join reads the array form. Output matches
    :func:`jaccard_pairs` semantics restricted to LSH-found pairs
    (recall is the banding probability; planted near-dups at j≥0.89
    collide with p > 0.999).
    """
    arrs = shingle_hash_arrays(docs, text_col, id_col, n)
    sh = arrs.select("id", F.explode("sh_arr").alias("sh"))
    sig = persist(_signatures_from(sh))
    cands = _band_collision_pairs(sig, band_size)
    return _rescore_pairs(cands, arrs, threshold)


def _rescore_pairs(
    cands: DataFrame, arrs: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over an (id_a, id_b) candidate list: each side
    point-joins its shingle array, one array_intersect per pair."""
    a = arrs.select(
        F.col("id").alias("id_a"),
        F.col("sh_arr").alias("sa"),
        F.col("n_sh").alias("na"),
    )
    b = arrs.select(
        F.col("id").alias("id_b"),
        F.col("sh_arr").alias("sb"),
        F.col("n_sh").alias("nb"),
    )
    scored = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("common", F.size(F.array_intersect("sa", "sb")))
    )
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    ).cast("double")
    return (
        scored.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def verify_candidate_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Exact re-score of EXTERNAL candidate pairs — the second half of
    incremental near-dup: ``LshIndex.add_batch`` (or its streaming
    wrapper) emits banded candidates; this point-joins each pair's two
    sides against the corpus store and keeps pairs at true Jaccard >=
    threshold.

    Scale shape: the corpus is first semi-joined down to only the ids
    the pair list touches, so shingle arrays are computed for the
    candidates' documents, never the whole store — the "point-join
    against the corpus store" the LshIndex contract defers to the
    caller. Output matches :func:`jaccard_pairs` semantics restricted
    to the given pairs.
    """
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    needed = docs.join(ids, id_col, "left_semi")
    arrs = shingle_hash_arrays(needed, text_col, id_col, n)
    return _rescore_pairs(pairs.select("id_a", "id_b"), arrs, threshold)


def simhash_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash): table-form SimHash — explode word hashes once,
    then 16 conditional sums in a single codegen'd aggregate (the
    column-expression form below re-evaluates the word-hash array per
    bit; this form is the scale path). Documents with no words are
    dropped (hash of nothing)."""
    from ..tables import spread

    wh = spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode(word_hash_array(F.col(text_col))).alias("h"),
    )
    aggs = [
        F.sum(
            F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"b{i}")
        for i in range(16)
    ]
    g = wh.groupBy("id").agg(*aggs)
    fp = F.lit(0).cast("long")
    for i in range(16):
        fp = fp + F.when(
            F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return g.select("id", fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Equal-fingerprint SimHash candidate pairs (a<b).

    The fingerprint table is tiny (one int per doc) but its input
    chain is not — persist it so the self-join's two sides read the
    aggregate once. The join key is the 16-bit fingerprint: collisions
    are the candidates; at web scale the same join is done per
    hamming-ball probe (fingerprint with one band dropped).
    """
    st = persist(simhash_table(docs, text_col, id_col))
    a = st.select(F.col("id").alias("id_a"), "simhash")
    b = st.select(F.col("id").alias("id_b"), "simhash")
    return (
        a.join(b, "simhash")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "simhash")
    )


def simhash_pairs_hamming(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 1,
) -> DataFrame:
    """SimHash near-dup pairs within Hamming distance ``max_hamming``
    (a<b), via the table-split probe trick.

    Pigeonhole: split the 16-bit fingerprint into ``max_hamming + 1``
    bands — two fingerprints that differ in ≤ ``max_hamming`` bits
    must agree EXACTLY on at least one band. Each doc explodes into
    ``max_hamming + 1`` (band_idx, band_val) probe rows; candidates
    are an equi-join on that probe key (the same shuffle shape as
    MinHash-LSH banding: constant bytes per doc, never all-pairs);
    the exact ``bit_count(xor) <= k`` verify then removes pigeonhole
    false positives. ``simhash_pairs`` is the k=0 special case.
    """
    if not 0 <= max_hamming < 16:
        raise ValueError(f"max_hamming must be in [0, 16): {max_hamming}")
    st = persist(simhash_table(docs, text_col, id_col))
    return hamming_pairs(st, "id", "simhash", max_hamming, n_bits=16)


def simhash16(text: Column) -> Column:
    """16-bit SimHash fingerprint from word hashes (column-expression
    form; prefer :func:`simhash_table` in plans).

    bit_i = sign of Σ_words (±1 by word-hash bit i); near-identical
    token multisets get identical fingerprints. Kept to 16 bits so the
    oracle arithmetic stays in exact int64 everywhere.
    """
    hs = F.transform(words(text), md5_hash)
    bits = [
        F.when(
            F.aggregate(
                hs,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1),
            )
            > 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for i in range(16)
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total


def contamination_report(
    docs: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: per-doc fraction of word-n-gram
    shingles that appear anywhere in ``benchmark``.

    The standard pre-training hygiene step — training text overlapping
    an eval set inflates benchmark scores, so docs with shingle
    overlap ≥ ``threshold`` get flagged for exclusion.

    Plan: both corpora reduce to shingle-hash form (persisted arrays,
    same machinery as dedup); the benchmark side collapses to its
    distinct shingle set; a LEFT SEMI join + per-doc count scores
    overlap. At 100 TB the corpus side dominates and carries only
    (id, sh) int64 rows into the join; the benchmark set is eval-sized
    (millions of shingles, not billions) — AQE broadcasts it when it
    fits, and the shuffle semi-join remains the general path when it
    does not.
    """
    arrs = shingle_hash_arrays(docs, text_col, id_col, n)
    bench_sh = (
        shingle_hash_arrays(benchmark, text_col, id_col, n)
        .select(F.explode("sh_arr").alias("sh"))
        .distinct()
    )
    sh = arrs.select("id", F.explode("sh_arr").alias("sh"))
    hits = (
        sh.join(bench_sh, "sh", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    overlap = F.col("n_hits") / F.col("n_sh")
    return (
        arrs.select("id", "n_sh")
        .join(hits, "id", "left")
        .withColumn("n_hits", F.coalesce("n_hits", F.lit(0)))
        .select(
            "id",
            "n_sh",
            "n_hits",
            F.round(overlap, 6).alias("overlap"),
            (overlap >= threshold).cast("int").alias("contaminated"),
        )
    )


def _band_table(sig: DataFrame, band_size: int) -> DataFrame:
    """(id, band_key) exploded band-bucket rows for a signature table."""
    n_bands = len(MINHASH_PARAMS) // band_size
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(i),
                *[F.col(f"mh{i * band_size + j}") for j in range(band_size)],
            )
            for i in range(n_bands)
        ]
    )
    return sig.select("id", F.explode(band_keys).alias("band_key"))


class LshIndex(BatchStore):
    """Persistent MinHash-LSH index for INCREMENTAL near-dup.

    The pattern a growing 100 TB corpus actually runs: each crawl
    increment dedups against everything ingested so far WITHOUT
    recomputing the corpus — the index stores one (id, band_key) row
    per doc per band (constant bytes/doc) as parquet, one partition
    per ingested batch (the band join shuffles on band_key either way;
    the batch partitioning is what makes re-ingest idempotent, not a
    join-locality claim).

    ``add_batch`` returns the new batch's candidate pairs
    (new↔existing ∪ new↔new, canonicalized id_a < id_b) and writes the
    batch's bands to the index — the two-step any incremental dedup
    needs. Exact re-scoring of candidates stays the caller's step (it
    needs the text of both sides; at scale that is a point-join
    against the corpus store).

    Storage, crash and replay contract: ``store.py``. Retrying a
    batch (same ``batch_id``) leaves the index row count unchanged
    instead of appending duplicate band rows that would inflate every
    later band join.
    """

    def __init__(self, spark, path: str, band_size: int = 2) -> None:
        super().__init__(spark, path)
        self.band_size = band_size

    def add_batch(
        self,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        batch_id: str | None = None,
    ) -> DataFrame:
        """Candidate pairs touching the new batch; then index it.

        ``batch_id`` names the batch's index partition. Pass the
        SAME id on retry and the write is idempotent (the partition is
        overwritten, not appended). ``None`` generates a fresh unique
        id — safe for distinct batches, but a retry under a new id
        would duplicate band rows, so checkpoint-driven pipelines
        should always pass their stable batch identifier.
        """
        import uuid

        if batch_id is None:
            batch_id = uuid.uuid4().hex
        part = batch_partition_dir(self.path, batch_id)
        sig = minhash_signatures(docs, text_col, id_col, n).persist()
        new_bands = _band_table(sig, self.band_size).persist()
        try:
            # an unreadable index raises here, never silently degrades
            # to batch-local dedup; an empty one has no history yet
            old = (
                self._merged("id long, band_key string")
                if self._batches()
                else None
            )
            x = new_bands.select(F.col("id").alias("id_a"), "band_key")
            within = (
                x.join(
                    new_bands.select(F.col("id").alias("id_b"), "band_key"),
                    "band_key",
                )
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
            )
            if old is not None:
                # an old batch can hold the same doc id (re-ingest):
                # drop self-pairs, then canonicalize a<b so cross and
                # within pairs dedupe against each other in distinct()
                cross = (
                    new_bands.select(F.col("id").alias("id_x"), "band_key")
                    .join(
                        old.select(F.col("id").alias("id_y"), "band_key"),
                        "band_key",
                    )
                    .filter(F.col("id_x") != F.col("id_y"))
                    .select(
                        F.least("id_x", "id_y").alias("id_a"),
                        F.greatest("id_x", "id_y").alias("id_b"),
                    )
                )
                cands = within.unionByName(cross)
            else:
                cands = within
            # materialize candidates BEFORE mutating the index;
            # localCheckpoint cuts the lineage so the result neither
            # re-reads the index after the write nor holds the
            # about-to-be-released persists
            out = cands.distinct().localCheckpoint(eager=True)
            self._overwrite(new_bands, part)
        finally:
            new_bands.unpersist()
            sig.unpersist()
        return out


def _band_structs(hash_col: str, max_hamming: int, n_bits: int):
    """The pigeonhole band decomposition shared by the pairing family:
    ``max_hamming + 1`` (band_idx, band_val) structs over ``n_bits``,
    the last band absorbing the remainder bits. Validates the width
    bounds (63, not 64: band values extract with shiftright on a
    signed long)."""
    if not 0 < n_bits <= 63:
        raise ValueError(f"n_bits must be in (0, 63]: {n_bits}")
    if not 0 <= max_hamming < n_bits:
        raise ValueError(
            f"max_hamming must be in [0, {n_bits}): {max_hamming}"
        )
    n_bands = max_hamming + 1
    width = n_bits // n_bands
    bands = []
    for i in range(n_bands):
        shift = i * width
        nb = width if i < n_bands - 1 else n_bits - shift
        bands.append(
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col(hash_col), shift)
                .bitwiseAND(F.lit((1 << nb) - 1))
                .alias("band_val"),
            )
        )
    return bands


def hamming_pairs(
    table: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    n_bits: int = 63,
    max_fp_freq: int | None = None,
    exclude_fps: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs (id_a < id_b, hamming) within Hamming distance
    ``max_hamming`` over an arbitrary-width integer fingerprint — the
    width-generalized form of :func:`simhash_pairs_hamming` (16-bit
    SimHash there; the 56-bit image dHash / audio fingerprint here —
    the media near-dup composition VERDICT_r5 #3 asked for).

    Same pigeonhole shape: ``max_hamming + 1`` bands over ``n_bits``
    (the last band absorbs remainder bits) — fingerprints within the
    distance must agree exactly on ≥ 1 band; candidates are the
    banded equi-join (constant probe rows per row, never all-pairs),
    then ``bit_count(xor) <= k`` removes pigeonhole false positives,
    so the result is EXACTLY the thresholded pair set and an all-pairs
    SQL oracle can check it. The input table should be persisted by
    the caller when its lineage is expensive (a decode pipeline): the
    self-join reads it twice.

    ``max_fp_freq`` (optional) excludes DEGENERATE fingerprints from
    the pairing: a fingerprint value occurring more than the cap times
    (the all-zero image, digital silence — "empty content" classes at
    crawl scale) is a c²-pair bucket that says nothing about
    near-duplication; such rows are dropped from the banded join
    (the stop-shingle-prune precedent, jaccard_pairs_pruned). Recall
    contract: members of an excluded group still pair EXACTLY (their
    fingerprints are equal) — route them through the exact tier
    (``groupBy(fingerprint)``), which is O(c) where pairing is O(c²).
    The frequency table is fingerprint-valued (Zipf-head-bounded) and
    broadcast. Measured negative result, recorded so it is not
    re-tried blind (SCALE.md "banded pairing under skew"): an
    exactness-preserving triangular hot-BUCKET split (group-pair cells
    per oversized band bucket) was implemented and A/B'd — audio 10×:
    15.1 s unsplit vs 21-65 s split (caps 5000/2000/500); a 150k-row
    poisoned single bucket: 28.8 s vs 244 s — codegen enumerates
    >100 M candidates/s per task, Spark broadcast-mis-plans the
    duplicated probe sides, and no tested scale was skew-bound, so the
    split was dropped in favor of this upstream exclusion.

    ``exclude_fps`` (optional, single ``__fp`` column) supplies the
    over-cap fingerprint frame precomputed — :func:`hamming_pairs_robust`
    already aggregates it for its star tier, and recomputing it here
    scanned the persisted hash table twice (ADVICE r7). When given, it
    replaces the internal frequency aggregate; ``max_fp_freq`` then
    only documents the cap the caller applied.
    """
    bands = _band_structs(hash_col, max_hamming, n_bits)

    def probe_rows(side: str) -> DataFrame:
        return table.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col(hash_col).alias(f"fp_{side}"),
            F.explode(F.array(*bands)).alias("probe"),
        ).select(
            f"id_{side}",
            f"fp_{side}",
            F.col("probe.band_idx").alias("band_idx"),
            F.col("probe.band_val").alias("band_val"),
        )

    if exclude_fps is None and max_fp_freq is not None:
        exclude_fps = (
            table.groupBy(F.col(hash_col).alias("__fp"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > max_fp_freq)
            .select("__fp")
        )
    if exclude_fps is not None:
        table = table.join(
            F.broadcast(exclude_fps),
            table[hash_col] == exclude_fps["__fp"],
            "left_anti",
        )

    a, b = probe_rows("a"), probe_rows("b")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("fp_a").bitwiseXOR(F.col("fp_b"))
            ).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def hamming_pairs_robust(
    table: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int,
    n_bits: int,
    max_fp_freq: int,
) -> DataFrame:
    """Degenerate-robust near-dup pairing (VERDICT_r6 #3): the
    ``max_fp_freq`` exclusion composed with its documented exact-tier
    recall route, in one result —

    - **banded tier**: :func:`hamming_pairs` over rows whose
      fingerprint occurs ≤ ``max_fp_freq`` times (the banded
      equi-join + exact ``bit_count`` verify);
    - **exact tier**: every over-cap ("degenerate") fingerprint group
      — the all-zero image, digital silence — pairs STAR-wise to its
      minimum-id member: ``(rep, member, 0)`` rows, one per member.

    The star form is what keeps the degenerate class O(c) instead of
    O(c²): equal fingerprints are an EQUIVALENCE CLASS, so c-1
    representative pairs carry the same cluster structure as the
    c(c-1)/2 pairwise rows (downstream keeper-selection /
    connected-components reconstruct the clique from the star —
    ``operators/graph.py`` precedent), while a poisoned 150k-row
    bucket emits 150k rows, not 11 billion. Time for the degenerate
    class is one groupBy + one broadcast join — it no longer scales
    with c² (measured: SCALE.md "degenerate-robust pairing").

    Recall contract vs plain :func:`hamming_pairs`: intra-group
    duplicate structure is fully restored at hamming 0; the only
    pairs not reported are degenerate-member ↔ near-but-unequal
    fingerprints — exactly the "says nothing about near-duplication"
    class the exclusion exists to drop. The two tiers are disjoint
    (banded rows exclude degenerate fingerprints entirely), so the
    union needs no dedup and an exact SQL oracle mirrors each tier
    directly.
    """
    # ONE frequency aggregate serves both tiers (ADVICE r7: computing
    # it separately inside hamming_pairs scanned the persisted hash
    # table twice): the over-cap frame is Zipf-head-tiny, so persist()
    # costs nothing and both the banded tier's anti-join and the star
    # tier's broadcast read the same cached rows.
    deg = persist(
        table.groupBy(F.col(hash_col).alias("__fp"))
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.min(id_col).alias("__rep"),
        )
        .filter(F.col("__c") > max_fp_freq)
        .select("__fp", "__rep")
    )
    banded = hamming_pairs(
        table,
        id_col,
        hash_col,
        max_hamming,
        n_bits=n_bits,
        max_fp_freq=max_fp_freq,
        exclude_fps=deg.select("__fp"),
    )
    exact = (
        table.join(
            F.broadcast(deg), table[hash_col] == deg["__fp"]
        )
        .filter(F.col(id_col) != F.col("__rep"))
        .select(
            F.col("__rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return banded.unionByName(exact)


def hamming_pairs_frames(
    table: DataFrame,
    id_col: str,
    frame_col: str,
    hash_col: str,
    max_hamming: int,
    n_bits: int = 63,
) -> DataFrame:
    """Clip-level near-dup pairs over PER-FRAME fingerprints: two
    clips pair iff EVERY aligned frame is within ``max_hamming`` —
    the video composition (L33'') of :func:`hamming_pairs`.

    Candidates come from the same pigeonhole banding with the frame
    index added to the join key (a qualifying pair has every frame
    within the distance, so ANY frame's bands collide — the candidate
    set is a superset of the answer); the verify joins both clips'
    full frame tables per candidate pair and keeps pairs whose MAX
    per-frame Hamming distance is within the threshold. Output:
    (id_a, id_b, max_hamming), exactly the all-pairs-aggregated set,
    so an O(n²·frames) SQL oracle is sound.

    Scale: frame tables are (clips × frames) 16-byte rows; the verify
    joins are id-keyed equi-joins over candidates only — never
    all-pairs. CRITICAL ordering (measured, not theorized): the
    probed frame's exact ``bit_count <= k`` check runs INSIDE the
    banded join's stage, BEFORE the candidate ``distinct`` — the same
    order :func:`hamming_pairs` uses. Large near-dup clusters make
    band collisions quadratic in cluster size, and those rows must
    die in codegen, not be shuffled: with the filter after the
    distinct the 10× probe took 583 s; with it inline, ~8 s for the
    same 1.95 M result pairs (tools/scale_probe.py
    ``video_hamming_pairs``).

    Frame-set semantics: distances aggregate over frame indices
    present on BOTH clips (inner joins on ``frame_col``) — for clips
    with differing frame sets, a clip that prefixes a longer one can
    pair with it. q_dedup_video's clips all sample the identical
    index set (and its oracle computes the same intersection); pass
    equal-length clips, or pre-filter on frame count, when that
    prefix behavior is not wanted."""
    bands = _band_structs(hash_col, max_hamming, n_bits)

    def probe_rows(side: str) -> DataFrame:
        return table.select(
            F.col(id_col).alias(f"id_{side}"),
            F.col(frame_col).alias("__f"),
            F.col(hash_col).alias(f"__fp_{side}"),
            F.explode(F.array(*bands)).alias("probe"),
        ).select(
            f"id_{side}",
            "__f",
            f"__fp_{side}",
            F.col("probe.band_idx").alias("band_idx"),
            F.col("probe.band_val").alias("band_val"),
        )

    cand = (
        probe_rows("a")
        .join(probe_rows("b"), ["__f", "band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        # the probed frame must itself be within the distance — exact,
        # cheap, and it guts the cluster-quadratic collision stream
        # before the distinct's shuffle (see docstring)
        .filter(
            F.bit_count(F.col("__fp_a").bitwiseXOR(F.col("__fp_b")))
            <= max_hamming
        )
        .select("id_a", "id_b")
        .distinct()
    )
    fa = table.select(
        F.col(id_col).alias("id_a"),
        F.col(frame_col).alias("__f"),
        F.col(hash_col).alias("fp_a"),
    )
    fb = table.select(
        F.col(id_col).alias("id_b"),
        F.col(frame_col).alias("__f"),
        F.col(hash_col).alias("fp_b"),
    )
    return (
        cand.join(fa, "id_a")
        .join(fb, ["id_b", "__f"])
        .groupBy("id_a", "id_b")
        .agg(
            F.max(
                F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
            )
            .cast("int")
            .alias("max_hamming")
        )
        .filter(F.col("max_hamming") <= max_hamming)
    )


def hamming_pairs_clipmaps(
    clips: DataFrame,
    id_col: str,
    fs_col: str,
    hs_col: str,
    max_hamming: int,
    n_bits: int = 63,
    probe_frame: int = 0,
) -> DataFrame:
    """:func:`hamming_pairs_frames` over PRE-GROUPED clips — one row
    per clip carrying parallel ``(frame_idx, phash)`` arrays — with
    single-frame probing (r15, guide §2.3/§2.4). Same output:
    ``(id_a, id_b, max_hamming)`` for pairs whose max per-frame
    Hamming distance over the frames present on BOTH clips is within
    ``max_hamming``.

    Two soundness preconditions, both held by q_dedup_video's synth
    by construction (and checked by the shared-walk test):

    1. frame indices are UNIQUE within a clip (``map_from_entries``
       raises on a duplicate key — loud, not silent);
    2. EVERY clip contains ``probe_frame`` (the AVI sampling rule
       always emits t_ms=0 → frame 0). A qualifying pair has every
       shared frame within the distance, so ``probe_frame`` — shared
       by all clips — is within the distance and its pigeonhole
       bands must collide: banding ONLY that frame is complete, and
       cuts probe rows by the frame count (×50 here) versus banding
       every frame. A clip missing ``probe_frame`` (or with a NULL
       hash there) raises inside the probe stage instead of silently
       dropping out of the candidates.

    Versus the per-frame-table form: no groupBy exchange (rows arrive
    pre-grouped), the banded join probes one fingerprint per clip
    instead of every frame's, and the all-frames verify is two
    one-row-per-clip map-lookup joins (the planner picks their
    strategy; no broadcast is forced) instead of a per-frame fan-out
    join pair + re-aggregate. The inline ``bit_count`` kill inside
    the banded join's stage is kept (the measured-critical ordering —
    see :func:`hamming_pairs_frames`)."""
    fm = F.map_from_entries(
        F.arrays_zip(F.col(fs_col), F.col(hs_col))
    )
    base = clips.select(F.col(id_col).alias("__id"), fm.alias("__fm"))

    def probe_rows(side: str) -> DataFrame:
        fp = F.element_at("__fm", F.lit(probe_frame))
        fr = base.select(
            F.col("__id").alias(f"id_{side}"),
            F.when(
                fp.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit("hamming_pairs_clipmaps: clip "),
                        F.col("__id").cast("string"),
                        F.lit(f" has no hash for probe_frame {probe_frame}"),
                    )
                ),
            )
            .otherwise(fp)
            .alias(f"__fp_{side}"),
        )
        bands = _band_structs(f"__fp_{side}", max_hamming, n_bits)
        return fr.select(
            f"id_{side}",
            f"__fp_{side}",
            F.explode(F.array(*bands)).alias("probe"),
        ).select(
            f"id_{side}",
            f"__fp_{side}",
            F.col("probe.band_idx").alias("band_idx"),
            F.col("probe.band_val").alias("band_val"),
        )

    cand = (
        probe_rows("a")
        .join(probe_rows("b"), ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        # the probed frame must itself be within the distance — the
        # same exact in-stage kill hamming_pairs_frames documents
        .filter(
            F.bit_count(F.col("__fp_a").bitwiseXOR(F.col("__fp_b")))
            <= max_hamming
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ca = base.select(
        F.col("__id").alias("id_a"), F.col("__fm").alias("fa")
    )
    cb = base.select(
        F.col("__id").alias("id_b"), F.col("__fm").alias("fb")
    )
    # max over the frame-index intersection — exactly the inner-join
    # aggregation of hamming_pairs_frames, as one map-lookup pass
    common = F.filter(
        F.map_keys(F.col("fa")),
        lambda k: F.element_at(F.col("fb"), k).isNotNull(),
    )
    mh = F.array_max(
        F.transform(
            common,
            lambda k: F.bit_count(
                F.element_at(F.col("fa"), k).bitwiseXOR(
                    F.element_at(F.col("fb"), k)
                )
            ),
        )
    )
    return (
        cand.join(ca, "id_a")
        .join(cb, "id_b")
        .select(
            "id_a", "id_b", mh.cast("int").alias("max_hamming")
        )
        .filter(F.col("max_hamming") <= max_hamming)
    )


# ----------------------------------------------------------------------
# L19: repeated-span detection (exact substring dedup)
# ----------------------------------------------------------------------
#: Positional-shingle width for span detection, the df cap that
#: bounds pair fan-out, and the minimum reported span length.
SPAN_K = 5
SPAN_MAX_DF = 20
SPAN_MIN_WORDS = 8


def repeated_spans(
    docs: DataFrame,
    k: int = SPAN_K,
    max_df: int = SPAN_MAX_DF,
    min_span: int = SPAN_MIN_WORDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal repeated word spans across document pairs — the exact
    substring-level dedup of Lee et al.'s "Deduplicating Training
    Data" (there with a suffix array; here restated relationally so a
    SQL oracle replays it):

    1. positional k-word shingles: (doc, pos, gram_hash), overlapping;
    2. drop grams in > max_df distinct docs (caps pair fan-out at
       Sum(occ^2) per surviving gram — the stop-shingle rule);
    3. equi-join on gram hash with id_a < id_b -> match points
       (pos_a, pos_b);
    4. merge match points on the same diagonal (pos_a - pos_b) with
       consecutive pos_a into maximal spans via the islands trick
       (pos_a - row_number() is constant within a run);
    5. report spans of >= min_span words.

    Returns (id_a, id_b, start_a, start_b, len_words).

    Scale shape: grams travel as 60-bit md5 hashes, never strings;
    the islands window partitions by (pair, diagonal) — millions of
    tiny partitions, no skew. At 100 TB step 3's self-join is the
    budget owner; the df cap bounds it, and a production run would
    further restrict the left side to LSH candidate pairs (the
    composition `lsh_candidate_pairs` already provides). The gram
    table is recomputed per consumer by choice: persisting it was
    A/B-measured slower at sf0.1 (1.97 s vs 1.37 s) — the gram
    arithmetic is cheaper than the materialization barrier.
    """
    ws = words(F.col(text_col))
    # positional grams via arrays_zip of k shifted slices (r14): the
    # former per-position ``F.slice(ws, i, k)`` copied k elements per
    # gram inside an interpreted lambda — k slices taken ONCE per doc
    # and zipped produce the identical gram strings at a fraction of
    # the cost (interleaved A/B at sf0.1, single-partition form:
    # 6.34 s -> 2.30 s min for the full span pipeline).
    m = F.size(ws) - (k - 1)
    zipped = F.arrays_zip(
        *[F.slice(ws, j + 1, m).alias(f"w{j}") for j in range(k)]
    )
    gram_arr = F.transform(
        zipped,
        lambda s: md5_hash(
            F.concat_ws(" ", *[s[f"w{j}"] for j in range(k)])
        ),
    )
    grams = (
        docs.filter(F.size(ws) >= k)
        .select(
            F.col(id_col),
            F.posexplode(gram_arr).alias("pos", "gh"),
        )
    )
    rare = (
        grams.groupBy("gh")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("gh")
    )
    capped = grams.join(rare, "gh")
    a = capped.select(
        F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "gh"
    )
    b = capped.select(
        F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "gh"
    )
    m = a.join(b, "gh").filter(F.col("id_a") < F.col("id_b"))
    from pyspark.sql import Window

    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    isl = m.select("id_a", "id_b", "pos_a", "pos_b", diag).withColumn(
        "grp",
        F.col("pos_a")
        - F.row_number().over(
            Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
        ),
    )
    return (
        isl.groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("long").alias("start_a"),
            F.min("pos_b").cast("long").alias("start_b"),
            (F.count(F.lit(1)) + F.lit(k - 1)).alias("len_words"),
        )
        .filter(F.col("len_words") >= min_span)
        .select("id_a", "id_b", "start_a", "start_b", "len_words")
    )


# ----------------------------------------------------------------------
# Incremental shingle document-frequency store (L41's streaming form)
# ----------------------------------------------------------------------
def shingle_df_cells(docs: DataFrame) -> DataFrame:
    """(sh, df): per-shingle distinct-DOC counts for one batch — the
    additive cells behind n-gram novelty. Shingle sets are per-doc
    DISTINCT (shingle_hash_arrays) and batches partition the corpus
    by doc, so df is additive across batches:
    ``df(A ∪ B) = df(A) + df(B)`` cell-wise. ONE explode + map-side-
    combined hash aggregate."""
    sha = shingle_hash_arrays(docs)
    return (
        sha.select(F.explode("sh_arr").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
    )


def novelty_per_doc(
    docs: DataFrame, df_table: DataFrame | None = None
) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty): per-document n-gram
    novelty — the fraction of a doc's distinct 3-gram shingles that
    appear in no other document (L41). With ``df_table`` None the
    shingle document-frequency is computed from ``docs`` itself (the
    batch q_ngram_novelty shape); pass a store's merged ``(sh, df)``
    table to score the ingested corpus incrementally
    (:meth:`ShingleDfStore.novelty`). Shared by the query, the store,
    and the corpus_prep diversity stage so the metric can never
    drift.

    The returned plan reads a persisted shingle frame — the caller
    must call ``state.release_cached()`` after the consuming action,
    the same contract as this module's pair functions. Short docs (< 3 words)
    report 0 shingles and novelty 0 via the greatest(1, n)-guarded
    division — never NaN."""
    sha = shingle_hash_arrays(docs)
    ex = sha.select(
        F.col("id").alias("doc_id"), F.explode("sh_arr").alias("sh")
    )
    dfc = (
        df_table
        if df_table is not None
        else ex.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    )
    per = (
        ex.join(dfc, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_novel"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_shingles"), zero).alias("n_shingles"),
            F.coalesce(F.col("n_novel"), zero).alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), zero).cast("double")
                / F.greatest(
                    F.lit(1).cast("long"),
                    F.coalesce(F.col("n_shingles"), zero),
                ),
                6,
            ).alias("novelty"),
        )
    )


class ShingleDfStore(BatchStore):
    """Persistent incremental shingle-DF store — the NOVELTY tier's
    (L41) incremental form: each ingested doc batch collapses to
    additive ``(sh, df)`` BIGINT cells in its own batch partition
    (storage contract: ``store.py``), and the
    per-document novelty of the ingested corpus reads off the merged
    table at any time, bit-identical to the batch q_ngram_novelty
    machinery over the union (pytest). Per-batch state is one row per
    DISTINCT shingle in the batch — corpus-vocabulary-bounded, never
    per-occurrence.

    Scoring docs NOT yet ingested against the store is the caller's
    contamination-style join; :meth:`novelty` scores the ingested
    corpus itself, so the docs frame passed in must be the union of
    the ingested batches."""

    def add_batch(self, docs: DataFrame, batch_id: str) -> int:
        """Collapse the batch to (sh, df) cells and persist them as
        an idempotent partition directory. Returns cells written."""
        # the write's eager localCheckpoint is the LAST consumer of
        # the shingle frame shingle_hash_arrays persists, so release
        # it here instead of leaking one cached frame per ingested
        # batch; scoped, because a blanket release_cached() would
        # clobber intermediates a concurrent dedup pipeline still needs
        with scoped():
            return self._write(shingle_df_cells(docs), batch_id)

    def df_table(self) -> DataFrame:
        """The merged (sh, df) table over every ingested batch —
        exactly the full-corpus :func:`shingle_df_cells` by
        additivity."""
        return (
            self._merged()
            .groupBy("sh")
            .agg(F.sum("df").alias("df"))
        )

    def novelty(self, docs: DataFrame) -> DataFrame:
        """Per-doc novelty of the INGESTED corpus (``docs`` = the
        union of the ingested batches) against the merged df table —
        the exact q_ngram_novelty output columns and semantics.

        The returned plan reads a persisted shingle frame: the caller
        must call ``state.release_cached()`` after the consuming
        action, the same contract as this module's pair functions."""
        return novelty_per_doc(docs, self.df_table())


class ExactDedupStore(BatchStore):
    """Persistent incremental exact-dedup keeper store (r10): L1's
    keeper table is MERGEABLE cells under (min, sum) — per
    normalized-text hash, ``keeper_id`` merges
    by MIN across doc-disjoint batches and ``copies`` is additive —
    so exact dedup over a growing corpus gets the same batch-by-batch
    treatment as every other tier. Each ingested batch collapses to
    one ``(nh, keeper_id, copies)`` cell per distinct normalized
    text in its own batch partition (storage contract: ``store.py``);
    :meth:`keepers` reads the merged table at any time, bit-identical
    to the batch :func:`exact_dedup_keepers` over the union (pytest).
    Per-batch state is one row per DISTINCT text — dedup's own
    output size, never per-occurrence."""

    def add_batch(
        self, docs: DataFrame, batch_id: str, text_col: str = "text",
        id_col: str = "doc_id",
    ) -> int:
        """Collapse the batch to per-hash keeper cells and persist
        them as an idempotent partition directory. Returns distinct
        texts written."""
        return self._write(
            docs.groupBy(
                F.md5(normalize_text(F.col(text_col))).alias("nh")
            ).agg(
                F.min(id_col).alias("keeper_id"),
                F.count(F.lit(1)).alias("copies"),
            ),
            batch_id,
        )

    def keepers(self) -> DataFrame:
        """The merged ``(keeper_id, copies)`` table over every
        ingested batch — exactly the full-corpus
        :func:`exact_dedup_keepers` by (min, sum) mergeability."""
        return (
            self._merged()
            .groupBy("nh")
            .agg(
                F.min("keeper_id").alias("keeper_id"),
                F.sum("copies").alias("copies"),
            )
            .select("keeper_id", "copies")
        )


class GroupStore(BatchStore):
    """Persistent incremental dedup-GROUP label store (r13,
    VERDICT_r12 #3): connected-component labels over the verified
    near-dup pair graph, maintained batch-by-batch instead of
    recomputed per corpus version. Closes the last batch-only step
    in the canonical incremental dedup pipeline (LshIndex finds the
    pairs incrementally; this store turns them into keep-one-per-group
    labels incrementally).

    What makes CC labels incrementally mergeable: a component's label
    table is a CONTRACTION of its edge history — the star graph
    (vertex → component) is connectivity-equivalent to every edge
    ever ingested, and since the label is the component's min vertex
    id (itself a member), min-id labels are preserved under the
    contraction. So ``add_batch`` unions the new pairs with the
    label-edges of only the TOUCHED components (components sharing a
    vertex with the new pairs — everything else provably cannot
    change), re-runs the distributed CC (``operators/graph.py``; the
    star inputs keep the diameter ≈2, so it converges in ~3 rounds)
    and writes the affected labels to the batch's own partition
    (storage contract: ``store.py``). The CC COMPUTE per batch is
    proportional to the touched components; each ingest does also
    read the merged label
    table once to find them — one columnar scan + min-aggregate
    over an EDGES-sized (never corpus-sized) store.

    Readout is a MIN-LATTICE merge: labels only ever decrease
    (components merge, never split; a merge adopts the smaller min),
    so stale partition rows are always ≥ the newest and
    ``groupBy(vertex).min(component)`` is the current label table.
    Like the other lattice families (ActivityStore, BloomStore —
    set-union) this makes OVERLAPPING ingest safe: re-ingesting pairs
    already merged is a no-op (union-find idempotence), so replayed
    or even re-sliced batches converge. Labels are monotone
    non-increasing per vertex across ingests.

    Parity contract (pytest, tests/test_streaming.py): ``labels()``
    after any batch sequence ≡ batch ``dedup_groups`` over the union
    of all ingested pairs, bit-identical; replay idempotent;
    foreachBatch form in ``streaming/dedup_stream.py``.

    NOT safe: concurrent ``add_batch`` calls (each reads the merged
    state — the foreachBatch topology is sequential by construction).
    """

    def add_batch(
        self,
        pairs: DataFrame,
        batch_id: str,
        id_a: str = "id_a",
        id_b: str = "id_b",
    ) -> int:
        """Merge one batch of verified near-dup pairs into the stored
        labels. ``pairs`` may reference any doc ids — new docs,
        historical docs, or both (the LshIndex emits new↔history
        pairs; that is the point). Returns affected label rows
        written."""
        from ..operators.graph import connected_components

        # reject a bad token before the CC rounds run their jobs
        batch_partition_dir(self.path, batch_id)
        new_edges = pairs.select(
            F.col(id_a).alias("src"), F.col(id_b).alias("dst")
        )
        cc_in = new_edges
        if self._batches():
            cur = self.labels()
            nv = new_edges.select(
                F.explode(F.array("src", "dst")).alias("doc_id")
            ).distinct()
            touched = (
                cur.join(nv, "doc_id", "left_semi")
                .select("group_id")
                .distinct()
            )
            # label-edges of the touched components only; self-loops
            # (the component head's own row) add no connectivity —
            # every head with members appears as a dst already
            sub = (
                cur.join(touched, "group_id", "left_semi")
                .filter(F.col("doc_id") != F.col("group_id"))
                .select(
                    F.col("doc_id").alias("src"),
                    F.col("group_id").alias("dst"),
                )
            )
            cc_in = new_edges.unionByName(sub)
        affected = connected_components(cc_in, "src", "dst").select(
            F.col("vertex").alias("doc_id"),
            F.col("component").alias("group_id"),
        )
        return self._write(affected, batch_id)

    def labels(self) -> DataFrame:
        """The merged ``(doc_id, group_id)`` label table over every
        ingested batch — exactly batch :func:`~..operators.graph.
        dedup_groups` over the union of all ingested pairs, by the
        min-lattice argument in the class docstring. Raises a typed
        error on a store with no ingested batches."""
        return (
            self._merged()
            .groupBy("doc_id")
            .agg(F.min("group_id").alias("group_id"))
        )

    def group_sizes(self) -> DataFrame:
        """(group_size, n_groups): the dup-cluster size histogram of
        the merged labels — q_dedup_group_sizes' exact output over
        everything ingested (two tiny aggregates over the label
        table, never the corpus)."""
        return (
            self.labels()
            .groupBy("group_id")
            .agg(F.count(F.lit(1)).alias("group_size"))
            .groupBy("group_size")
            .agg(F.count(F.lit(1)).alias("n_groups"))
        )

    def drop_list(self) -> DataFrame:
        """(doc_id, group_id): the docs a keep-one-per-group pass
        DELETES — every grouped doc that is not its component's
        min-id keeper. The actionable artifact the incremental
        pipeline ends in: a curation run anti-joins this against the
        corpus (docs never paired are absent here, hence kept), the
        exact keep=0 set of the batch q_dedup_keep_list restricted
        to grouped docs (pytest)."""
        return self.labels().filter(
            F.col("doc_id") != F.col("group_id")
        )
