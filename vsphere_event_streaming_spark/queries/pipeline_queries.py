"""LLM-data-pipeline declared queries (SURVEY §2.10-2.11 [EXT] tier).

Dedup (exact / Jaccard / MinHash-LSH / SimHash / embedding), vector
similarity search (brute-force + IVF), text analysis (tokens, lang-id,
quality, fingerprints) and multimodal metadata — over the driver's
``documents`` and ``embeddings`` tables.

Oracle construction: the SQL is *generated from the same constants*
(stopword lists, hash parameters, band layout) as the Spark
implementation, so the two engines compute the identical arithmetic —
the hash family is plain modular integer math precisely so this is
possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import bpe as _bpe
from ..functions import text as T
from ..functions.dedup import (
    MINHASH_PARAMS,
    MINHASH_PRIME,
    exact_dedup_keepers,
    hamming_pairs,
    jaccard_pairs,
    lsh_candidate_pairs,
    simhash_table,
)
from ..functions.multimodal import attach_payload, extract_metadata
from ..functions.vectors import (
    cosine,
    cosine_pandas,
    deterministic_centroids,
    ivf_topk,
    knn_topk,
    min_id_query_split,
)
from ..registry import query
from ..state import corpus_key, persist, trained
from ..tables import load



# ----------------------------------------------------------------------
# DuckDB SQL fragment builders (same constants as the Spark side)
# ----------------------------------------------------------------------

#: whitespace tokenization, mirroring functions.text.words
#: tokenizer replica: explicit whitespace class (matches words() —
#: Java \s includes \x0B, RE2 does not) and empty tokens filtered the
#: way words() filters them (split of '' yields [''] in both engines)
#: NO trim — DuckDB's trim strips Unicode whitespace (\xa0 ...) that
#: Java's does not; leading/trailing class-whitespace just yields
#: empty tokens the filter removes, identically in every engine.
_DUCK_WORDS = (
    r"list_filter(string_split_regex(text, "
    r"'[ \t\n\r\f\x0B]+'), w -> w <> '')"
)

#: Engine-portable trim: strip ONLY the tokenizer's whitespace class
#: (mirrors functions.text.ws_strip).
_DUCK_WS_STRIP = (
    r"regexp_replace(text, "
    r"'^[ \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+$', '', 'g')"
)


def _duck_hash(expr: str) -> str:
    """DuckDB replica of functions.text.rolling_hash (verified equal).

    Empty input is guarded: DuckDB's list_reduce errors on an empty
    list where Spark's fold returns the init value 0.
    """
    reduce = (
        f"list_reduce(list_transform(range(1, length({expr})+1), "
        f"i -> CAST(ord(substr({expr}, CAST(i AS INTEGER), 1)) AS BIGINT)), "
        f"(h, c) -> (h*{T.HASH_MULT} + c) % {T.HASH_MOD})"
    )
    return f"CASE WHEN length({expr}) = 0 THEN 0 ELSE {reduce} END"


def _duck_word_hash(expr: str) -> str:
    """DuckDB replica of functions.text.md5_hash (verified equal)."""
    return f"((('0x' || substr(md5({expr}), 1, 15))::BIGINT) % {T.HASH_MOD})"


def _duck_shingle_hashes() -> str:
    """CTEs producing (doc_id, sh_arr): distinct shingle-hash arrays,
    mirroring functions.dedup.shingle_hash_arrays."""
    from ..functions.dedup import SHINGLE_P1, SHINGLE_P2

    return f"""
  w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
  wh AS (
    SELECT doc_id, list_transform(ws, s -> {_duck_word_hash("s")}) AS wh
    FROM w WHERE len(ws) >= 3
  ),
  sha AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(wh)-1),
             i -> (wh[i]*{SHINGLE_P1} + wh[i+1]*{SHINGLE_P2} + wh[i+2])
                  % {T.HASH_MOD})) AS sh_arr
    FROM wh
  )
"""

_DUCK_DVEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"


def _duck_cosine(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


# ======================================================================
# L1: exact dedup
# ======================================================================
@query(
    "q_dedup_exact",
    oracle=r"""
    SELECT min(doc_id) AS keeper_id, count(*) AS copies
    FROM documents
    GROUP BY lower(trim(regexp_replace(text, '[ \t\n\r\f\x0B]+', ' ', 'g'), ' '))
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_keepers(load(spark, sf_dir, "documents"))


# ======================================================================
# L2a: exact n-gram Jaccard near-dup pairs
# ======================================================================
@query(
    "q_dedup_near",
    oracle=f"""
    WITH {_duck_shingle_hashes()},
    ex AS (
      SELECT doc_id, len(sh_arr) AS n_sh, unnest(sh_arr) AS sh
      FROM sha WHERE len(sh_arr) > 0
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
             count(*) AS common
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6)
             AS jaccard
    FROM inter
    WHERE round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6)
          >= 0.5
      AND na >= 0.5 * nb AND nb >= 0.5 * na
    """,
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3gram Jaccard ≥ 0.5 via inverted-index blocking —
    catches the corpus's planted near-duplicates (measured: background
    pair similarity < 0.1, planted ≥ 0.89).

    Oracle-tier baseline: the inverted-index join cost tracks Σk² over
    shingle document frequency, so this is the ground-truth check, not
    the 100 TB plan — ``q_dedup_lsh_verified`` is the canonical
    near-dup pipeline at scale."""
    return jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


# ======================================================================
# L2j: asymmetric CONTAINMENT pairs (quote/embedding detector)
# ======================================================================
#: Containment cutoff for the declared query: the planted dup tier
#: sits at ~1.0, background pairs below 0.35 (measured at both test
#: SFs), so 0.9 is non-vacuous and well-separated everywhere.
CONTAINMENT_T = 0.9


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH {_duck_shingle_hashes()},
    ex AS (
      SELECT doc_id, len(sh_arr) AS n_sh, unnest(sh_arr) AS sh
      FROM sha WHERE len(sh_arr) > 0
    ),
    inter AS (
      SELECT a.doc_id AS id_small, b.doc_id AS id_big,
             any_value(a.n_sh) AS n_small, any_value(b.n_sh) AS n_big,
             count(*) AS common
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.n_sh < b.n_sh
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_small, id_big,
           CAST(n_small AS BIGINT) AS n_small,
           CAST(n_big AS BIGINT) AS n_big,
           round(CAST(common AS DOUBLE) / CAST(n_small AS DOUBLE), 6)
             AS containment
    FROM inter
    WHERE round(CAST(common AS DOUBLE) / CAST(n_small AS DOUBLE), 6)
          >= {CONTAINMENT_T}
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment pairs (r13) — the quote/embedding
    detector the symmetric Jaccard tier structurally misses: a short
    document pasted inside a long one has Jaccard ≈ |small|/|big| ≈ 0
    (the length filter prunes it before scoring) but containment
    |S∩B|/|S| ≈ 1, and the dedup policy differs (keep the superset /
    keep both) — so every web-corpus pipeline runs it as its own
    pass. Output: (id_small, id_big, sizes, containment ≥ 0.9) with
    n_small < n_big strictly (equal-size mutual containment IS the
    Jaccard-1 case q_dedup_near already owns).

    Same inverted-index shape and cost as q_dedup_near (shared
    shingle hashes, three-int64 shuffle rows, the documented
    stop-shingle skew note at web scale); the asymmetric size filter
    applies pre-aggregation. Exact-tier baseline — note the scale
    path is the DF-CAPPED inverted index (the jaccard_pairs_pruned
    machinery), NOT MinHash banding: band collision probability
    tracks symmetric Jaccard, and a high-containment pair of very
    different sizes has jac ≈ n_small/n_big ≈ 0 — banding would miss
    exactly the pairs this operator exists to find."""
    from ..functions.dedup import containment_pairs

    return containment_pairs(
        load(spark, sf_dir, "documents"), threshold=CONTAINMENT_T
    ).select(
        "id_small",
        "id_big",
        F.col("n_small").cast("bigint").alias("n_small"),
        F.col("n_big").cast("bigint").alias("n_big"),
        "containment",
    )


@query(
    "q_dedup_containment_pruned",
    oracle=f"""
    WITH {_duck_shingle_hashes()},
    ex AS (
      SELECT doc_id, unnest(sh_arr) AS sh
      FROM sha WHERE len(sh_arr) > 0
    ),
    freq AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) > 5),
    pr AS (SELECT * FROM ex WHERE sh NOT IN (SELECT sh FROM freq)),
    sz AS (SELECT doc_id, count(*) AS n2 FROM pr GROUP BY doc_id),
    px AS (SELECT pr.doc_id, pr.sh, sz.n2 FROM pr JOIN sz USING (doc_id)),
    inter AS (
      SELECT a.doc_id AS id_small, b.doc_id AS id_big,
             any_value(a.n2) AS n_small, any_value(b.n2) AS n_big,
             count(*) AS common
      FROM px a JOIN px b ON a.sh = b.sh AND a.n2 < b.n2
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_small, id_big,
           CAST(n_small AS BIGINT) AS n_small,
           CAST(n_big AS BIGINT) AS n_big,
           round(CAST(common AS DOUBLE) / CAST(n_small AS DOUBLE), 6)
             AS containment
    FROM inter
    WHERE round(CAST(common AS DOUBLE) / CAST(n_small AS DOUBLE), 6)
          >= {CONTAINMENT_T}
    """,
)
def q_dedup_containment_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment over the STOP-SHINGLE-PRUNED universe
    (r13) — the scale path for q_dedup_containment, as a declared
    oracled query so the bound is value-hash-checked, not claimed:
    MinHash banding cannot serve containment (collision probability
    tracks symmetric Jaccard; a high-containment pair of very
    different sizes has jac ≈ 0), so the join bound comes from the
    global df cap instead — shingles in > 5 docs dropped from every
    set, inverted-index join capped at df² rows per surviving
    shingle, containment exact over the pruned sets (pruned sizes,
    the pruned-jaccard contract). Shares _pruned_shingle_table with
    q_dedup_near_pruned so the two pruned universes can never
    drift. At the test corpus the cap preserves all 28/25 containment
    pairs (measured at both SFs) — the planted containments live in
    RARE shingles, which is exactly the df-cap argument."""
    from ..functions.dedup import containment_pairs_pruned

    return containment_pairs_pruned(
        load(spark, sf_dir, "documents"),
        threshold=CONTAINMENT_T,
        max_doc_freq=5,
    ).select(
        "id_small",
        "id_big",
        F.col("n_small").cast("bigint").alias("n_small"),
        F.col("n_big").cast("bigint").alias("n_big"),
        "containment",
    )


# ======================================================================
# L2a': stop-shingle-pruned exact Jaccard (the web-scale variant)
# ======================================================================
@query(
    "q_dedup_near_pruned",
    oracle=f"""
    WITH {_duck_shingle_hashes()},
    ex AS (
      SELECT doc_id, unnest(sh_arr) AS sh
      FROM sha WHERE len(sh_arr) > 0
    ),
    freq AS (SELECT sh FROM ex GROUP BY sh HAVING count(*) > 5),
    pr AS (SELECT * FROM ex WHERE sh NOT IN (SELECT sh FROM freq)),
    sz AS (SELECT doc_id, count(*) AS n2 FROM pr GROUP BY doc_id),
    px AS (SELECT pr.doc_id, pr.sh, sz.n2 FROM pr JOIN sz USING (doc_id)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             any_value(a.n2) AS na, any_value(b.n2) AS nb,
             count(*) AS common
      FROM px a JOIN px b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6)
             AS jaccard
    FROM inter
    WHERE round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6)
          >= 0.5
      AND na >= 0.5 * nb AND nb >= 0.5 * na
    """,
)
def q_dedup_near_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over the stop-shingle-pruned universe (document
    frequency > 5 dropped globally): caps the inverted-index join at
    df² rows per shingle — the exact-dedup form that survives web-scale
    boilerplate."""
    from ..functions.dedup import jaccard_pairs_pruned

    return jaccard_pairs_pruned(
        load(spark, sf_dir, "documents"), threshold=0.5, max_doc_freq=5
    )


# ======================================================================
# L2a'': character-n-gram Jaccard (cross-language/code dedup form)
# ======================================================================
@query(
    "q_dedup_near_char",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lower(regexp_replace(text, '^[ \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+$', '', 'g')) AS t FROM documents
      WHERE length(regexp_replace(text, '^[ \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+$', '', 'g')) >= 5
    ),
    sha AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, length(t)-3),
               i -> {_duck_word_hash("substr(t, CAST(i AS INTEGER), 5)")}
             )) AS sh_arr
      FROM t
    ),
    ex AS (
      SELECT doc_id, len(sh_arr) AS n_sh, unnest(sh_arr) AS sh
      FROM sha WHERE len(sh_arr) > 0
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
             count(*) AS common
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6)
             AS jaccard
    FROM inter
    WHERE round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE), 6)
          >= 0.6
      AND na >= 0.6 * nb AND nb >= 0.6 * na
    """,
)
def q_dedup_near_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-5-gram Jaccard ≥ 0.6 — token-boundary-free near-dup
    detection (the standard form for code and cross-language text)."""
    from ..functions.dedup import jaccard_pairs_char

    return jaccard_pairs_char(
        load(spark, sf_dir, "documents"), threshold=0.6, n=5
    )


# ======================================================================
# L4': word n-gram frequency table
# ======================================================================
@query(
    "q_text_ngrams",
    oracle=f"""
    WITH w AS (SELECT {_DUCK_WORDS} AS ws FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, len(ws)),
               i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM w WHERE len(ws) >= 2
    )
    SELECT bigram, count(*) AS n FROM g GROUP BY bigram
    """,
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram frequency table: transform+explode+count — the
    n-gram language-model statistics pass over the corpus."""
    docs = load(spark, sf_dir, "documents")
    ws = T.words(F.col("text"))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(ws) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(ws, i.cast("int")),
            F.element_at(ws, (i + 1).cast("int")),
        ),
    )
    return (
        docs.filter(F.size(T.words(F.col("text"))) >= 2)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ======================================================================
# L2b: MinHash + LSH candidate pairs
# ======================================================================
def _minhash_oracle() -> str:
    from ..functions.dedup import SHINGLE_P1, SHINGLE_P2

    sig_items = ", ".join(
        f"min(({a}*sh + {b}) % {MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    n_bands = len(MINHASH_PARAMS) // 2
    band_eq = " OR ".join(
        f"(a.mh{i * 2} = b.mh{i * 2} AND a.mh{i * 2 + 1} = b.mh{i * 2 + 1})"
        for i in range(n_bands)
    )
    return f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    wh AS (
      SELECT doc_id, list_transform(ws, s -> {_duck_word_hash("s")}) AS wh
      FROM w WHERE len(ws) >= 3
    ),
    sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(wh)-1),
               i -> (wh[i]*{SHINGLE_P1} + wh[i+1]*{SHINGLE_P2} + wh[i+2])
                    % {T.HASH_MOD})) AS sh
      FROM wh
    ),
    sig AS (SELECT doc_id, {sig_items} FROM sh GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE {band_eq}
    """


def _lsh_verified_oracle(threshold: float) -> str:
    """LSH candidates → exact Jaccard re-score, replayed in DuckDB with
    the identical modular arithmetic (same CTE chain as the minhash
    oracle, extended with an array-intersection re-score)."""
    from ..functions.dedup import SHINGLE_P1, SHINGLE_P2

    sig_items = ", ".join(
        f"min(({a}*sh + {b}) % {MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    n_bands = len(MINHASH_PARAMS) // 2
    band_eq = " OR ".join(
        f"(a.mh{i * 2} = b.mh{i * 2} AND a.mh{i * 2 + 1} = b.mh{i * 2 + 1})"
        for i in range(n_bands)
    )
    jac = "CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE)"
    return f"""
    WITH {_duck_shingle_hashes()},
    sh AS (SELECT doc_id, unnest(sh_arr) AS sh FROM sha),
    sig AS (SELECT doc_id, {sig_items} FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {band_eq}
    ),
    sc AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(x.sh_arr, y.sh_arr)) AS common,
             len(x.sh_arr) AS na, len(y.sh_arr) AS nb
      FROM cand c
      JOIN sha x ON x.doc_id = c.id_a
      JOIN sha y ON y.doc_id = c.id_b
    )
    SELECT id_a, id_b, round({jac}, 6) AS jaccard
    FROM sc
    WHERE round({jac}, 6) >= {threshold}
    """


@query("q_dedup_lsh_verified", oracle=_lsh_verified_oracle(0.5))
def q_dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical 100 TB near-dup pipeline: MinHash-LSH candidate
    generation (constant-size band keys per doc) → exact Jaccard
    re-score of candidates only. ``q_dedup_near`` is the exact-oracle
    baseline; this is the plan you run at scale."""
    from ..functions.dedup import lsh_verified_pairs

    return lsh_verified_pairs(load(spark, sf_dir, "documents"), threshold=0.5)


@query("q_dedup_minhash", oracle=_minhash_oracle())
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8 hashes)-LSH(4 bands × 2) candidate pairs. The oracle
    replays the identical modular arithmetic in SQL; the engine-side
    band join shuffles constant-size keys per doc (the 100 TB path —
    the oracle's O(n²) band compare is the *check*, not the plan)."""
    return lsh_candidate_pairs(load(spark, sf_dir, "documents"))


# ======================================================================
# L2b': MinHash estimator accuracy (est vs exact Jaccard per pair)
# ======================================================================
def _minhash_est_oracle() -> str:
    sig_items = ", ".join(
        f"min(({a}*sh + {b}) % {MINHASH_PRIME}) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    n_sig = len(MINHASH_PARAMS)
    n_bands = n_sig // 2
    band_eq = " OR ".join(
        f"(a.mh{i * 2} = b.mh{i * 2} AND a.mh{i * 2 + 1} = b.mh{i * 2 + 1})"
        for i in range(n_bands)
    )
    eq_sum = " + ".join(
        f"(x.mh{j} = y.mh{j})::INT" for j in range(n_sig)
    )
    jac = "CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE)"
    return f"""
    WITH {_duck_shingle_hashes()},
    sh AS (SELECT doc_id, unnest(sh_arr) AS sh FROM sha),
    sig AS (SELECT doc_id, {sig_items} FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {band_eq}
    ),
    es AS (
      SELECT c.id_a, c.id_b,
             round(CAST({eq_sum} AS DOUBLE) / {n_sig}.0, 6)
               AS est_jaccard
      FROM cand c
      JOIN sig x ON x.doc_id = c.id_a
      JOIN sig y ON y.doc_id = c.id_b
    ),
    ex AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(x.sh_arr, y.sh_arr)) AS common,
             len(x.sh_arr) AS na, len(y.sh_arr) AS nb
      FROM cand c
      JOIN sha x ON x.doc_id = c.id_a
      JOIN sha y ON y.doc_id = c.id_b
    )
    SELECT es.id_a, es.id_b, es.est_jaccard,
           round({jac}, 6) AS jaccard,
           round(abs(es.est_jaccard - round({jac}, 6)), 6) AS abs_err
    FROM es JOIN ex ON es.id_a = ex.id_a AND es.id_b = ex.id_b
    """


@query("q_minhash_est", oracle=_minhash_est_oracle())
def q_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINHASH ESTIMATOR ACCURACY (r10) — the sketch-evaluation twin
    of the ANN tier's q_knn_recall: for every LSH candidate pair,
    the signature-agreement Jaccard estimate (matching slots / 8 —
    the unbiased MinHash estimator) beside the EXACT Jaccard and the
    absolute error. The number a dedup pipeline reads to size its
    signature count before trusting banded candidates at 100 TB;
    every slot compare, the exact intersection, and the error are
    oracle-replayed.

    Scale shape: the persisted shingle/signature tables feed all
    three stages (the q_dedup_lsh_verified discipline); the estimate
    join moves 8-slot signatures, the exact join moves shingle
    arrays for CANDIDATE pairs only — never all-pairs."""
    from ..functions.dedup import (
        _band_collision_pairs,
        _signatures_from,
        shingle_hash_arrays,
    )

    n_sig = len(MINHASH_PARAMS)
    docs = load(spark, sf_dir, "documents")
    arrs = shingle_hash_arrays(docs)
    sh = arrs.select("id", F.explode("sh_arr").alias("sh"))
    sig = persist(_signatures_from(sh))
    cands = _band_collision_pairs(sig, 2)
    sa = sig.select(
        F.col("id").alias("id_a"),
        *[F.col(f"mh{j}").alias(f"__a{j}") for j in range(n_sig)],
    )
    sb = sig.select(
        F.col("id").alias("id_b"),
        *[F.col(f"mh{j}").alias(f"__b{j}") for j in range(n_sig)],
    )
    eq = sum(
        (F.col(f"__a{j}") == F.col(f"__b{j}")).cast("int")
        for j in range(n_sig)
    )
    est = cands.join(sa, "id_a").join(sb, "id_b").select(
        "id_a",
        "id_b",
        F.round(eq.cast("double") / F.lit(float(n_sig)), 6).alias(
            "est_jaccard"
        ),
    )
    a = arrs.select(
        F.col("id").alias("id_a"),
        F.col("sh_arr").alias("__sa"),
        F.col("n_sh").alias("__na"),
    )
    b = arrs.select(
        F.col("id").alias("id_b"),
        F.col("sh_arr").alias("__sb"),
        F.col("n_sh").alias("__nb"),
    )
    ex = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "__common", F.size(F.array_intersect("__sa", "__sb"))
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__common").cast("double")
                / (
                    F.col("__na") + F.col("__nb") - F.col("__common")
                ).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return est.join(ex, ["id_a", "id_b"]).select(
        "id_a",
        "id_b",
        "est_jaccard",
        "jaccard",
        F.round(
            F.abs(F.col("est_jaccard") - F.col("jaccard")), 6
        ).alias("abs_err"),
    )


# ======================================================================
# L2c: SimHash fingerprints
# ======================================================================
def _simhash_ctes() -> str:
    """CTEs ending in s(doc_id, simhash), mirroring simhash_table."""
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> {i}) & 1)*2 - 1))"
        f" > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(16)
    )
    return f"""
    wh AS (
      SELECT doc_id,
             list_transform({_DUCK_WORDS}, s -> {_duck_word_hash("s")}) AS hs
      FROM documents
      WHERE len({_DUCK_WORDS}) >= 1
    ),
    s AS (SELECT doc_id, ({bit_terms}) AS simhash FROM wh)
    """


def _simhash_oracle() -> str:
    return f"WITH {_simhash_ctes()} SELECT doc_id, simhash FROM s"


@query("q_dedup_simhash", oracle=_simhash_oracle())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document; identical fingerprints ⇒ near-dup
    candidates (pairing is then a groupBy on the fingerprint)."""
    docs = load(spark, sf_dir, "documents")
    return simhash_table(docs).select(F.col("id").alias("doc_id"), "simhash")


@query(
    "q_dedup_simhash_pairs",
    oracle=f"""
    WITH {_simhash_ctes()}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.simhash
    FROM s a JOIN s b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-fingerprint SimHash candidate pairs — the pairing step of
    the SimHash dedup path (fingerprint self-join on the 16-bit key)."""
    from ..functions.dedup import simhash_pairs

    return simhash_pairs(load(spark, sf_dir, "documents"))


@query(
    "q_dedup_simhash_hamming",
    oracle=f"""
    WITH {_simhash_ctes()},
    probes AS (
      SELECT doc_id, simhash, 0 AS band_idx, simhash >> 8 AS band_val
      FROM s
      UNION ALL
      SELECT doc_id, simhash, 1 AS band_idx, simhash & 255 AS band_val
      FROM s
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM probes a JOIN probes b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
    """,
)
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs within Hamming distance 1 — the table-split probe
    pairing (two 8-bit bands; a 1-bit difference leaves one band equal)
    that catches near-dups equal-fingerprint pairing misses, at the
    same banded equi-join shape. The oracle restates
    ``bit_count(xor) <= 1`` through the identical banded equality."""
    from ..functions.dedup import simhash_pairs_hamming

    return simhash_pairs_hamming(
        load(spark, sf_dir, "documents"), max_hamming=1
    )


# ======================================================================
# L2f: duplicate-graph triangle / density diagnostics
# ======================================================================
def _triangles_oracle(threshold: float = 0.5) -> str:
    from ..functions.dedup import MINHASH_PRIME as _MP

    sig_items = ", ".join(
        f"min(({a}*sh + {b}) % {_MP}) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    n_bands = len(MINHASH_PARAMS) // 2
    band_eq = " OR ".join(
        f"(a.mh{i * 2} = b.mh{i * 2} AND a.mh{i * 2 + 1} = b.mh{i * 2 + 1})"
        for i in range(n_bands)
    )
    jac = "CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE)"
    return f"""
    WITH {_duck_shingle_hashes()},
    sh AS (SELECT doc_id, unnest(sh_arr) AS sh FROM sha),
    sig AS (SELECT doc_id, {sig_items} FROM sh GROUP BY doc_id),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {band_eq}
    ),
    sc AS (
      SELECT c.id_a, c.id_b,
             len(list_intersect(x.sh_arr, y.sh_arr)) AS common,
             len(x.sh_arr) AS na, len(y.sh_arr) AS nb
      FROM cand c
      JOIN sha x ON x.doc_id = c.id_a
      JOIN sha y ON y.doc_id = c.id_b
    ),
    tp AS MATERIALIZED (
      SELECT id_a, id_b FROM sc WHERE round({jac}, 6) >= {threshold}
    ),
    ttri AS (
      SELECT e1.id_a AS na, e1.id_b AS nb, e2.id_b AS nc
      FROM tp e1
      JOIN tp e2 ON e2.id_a = e1.id_b
      JOIN tp e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    ),
    tdeg AS (
      SELECT doc_id, count(*) AS degree FROM (
        SELECT id_a AS doc_id FROM tp
        UNION ALL SELECT id_b AS doc_id FROM tp
      ) GROUP BY doc_id
    ),
    tcnt AS (
      SELECT doc_id, count(*) AS triangles FROM (
        SELECT na AS doc_id FROM ttri
        UNION ALL SELECT nb AS doc_id FROM ttri
        UNION ALL SELECT nc AS doc_id FROM ttri
      ) GROUP BY doc_id
    )
    SELECT tdeg.doc_id AS doc_id,
           tdeg.degree AS degree,
           CAST(coalesce(tcnt.triangles, 0) AS BIGINT) AS triangles,
           round(CASE WHEN tdeg.degree < 2 THEN 0.0
                 ELSE 2.0 * CAST(coalesce(tcnt.triangles, 0) AS DOUBLE)
                      / (CAST(tdeg.degree AS DOUBLE)
                         * CAST(tdeg.degree - 1 AS DOUBLE))
                 END, 6) AS clustering
    FROM tdeg LEFT JOIN tcnt USING (doc_id)
    """


@query("q_dedup_triangles", oracle=_triangles_oracle())
def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE-GRAPH TRIANGLE DIAGNOSTICS (r10) — per-node triangle
    count and local clustering coefficient over the VERIFIED near-dup
    graph (the L2 canonical pipeline's own edges: LSH candidates →
    exact Jaccard ≥ 0.5): the graph-shape question a dedup pass asks
    before trusting transitive grouping (L2'). A node whose
    neighborhood is triangle-dense (clustering → 1) sits in a true
    duplicate CLIQUE; a high-degree node with clustering → 0 is a
    CHAIN HUB — a threshold artifact stitching unrelated docs, the
    thing that makes naive transitive closure over-merge. Jaccard
    thresholds are NOT transitive (j(a,b) ≥ t ∧ j(b,c) ≥ t ⇏
    j(a,c) ≥ t), so the coefficient is informative.

    Edge-set choice is the scale decision (measured): the candidate
    tiers saturate as the corpus grows — the 16-bit SimHash Hamming≤1
    graph reaches 925k edges / max degree 1030 on the sf0.1 corpus
    (~40 s of triangle joins), while the VERIFIED graph stays sparse
    (256 edges, max degree 3) because verification bounds edges by
    TRUE similarity, not fingerprint collisions. Diagnostics belong
    on the graph the grouping stage actually consumes.

    Canonical distributed triangle counting: orient every edge small
    → large id (each triangle counted exactly once as a<b<c), join
    edges on the shared middle vertex, then verify the closing edge
    with a second equi-join — never an all-pairs step; cost is
    Σ deg² over the VERIFIED graph only. Per-node tallies are two
    map-side-combined aggregates over the explode of edges /
    triangle corners."""
    from ..functions.dedup import lsh_verified_pairs

    tp = persist(
        lsh_verified_pairs(
            load(spark, sf_dir, "documents"), threshold=0.5
        ).select("id_a", "id_b")
    )
    e1 = tp.select(F.col("id_a").alias("na"), F.col("id_b").alias("nb"))
    e2 = tp.select(F.col("id_a").alias("nb"), F.col("id_b").alias("nc"))
    e3 = tp.select(F.col("id_a").alias("na"), F.col("id_b").alias("nc"))
    tri = e1.join(e2, "nb").join(e3, ["na", "nc"])
    deg = (
        tp.select(F.col("id_a").alias("doc_id"))
        .unionAll(tp.select(F.col("id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tcnt = (
        tri.select(F.col("na").alias("doc_id"))
        .unionAll(tri.select(F.col("nb").alias("doc_id")))
        .unionAll(tri.select(F.col("nc").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    j = deg.join(tcnt, "doc_id", "left").select(
        "doc_id",
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0).cast("long")).alias(
            "triangles"
        ),
    )
    return j.select(
        "doc_id",
        "degree",
        "triangles",
        F.round(
            F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
                F.lit(2.0)
                * F.col("triangles").cast("double")
                / (
                    F.col("degree").cast("double")
                    * (F.col("degree") - 1).cast("double")
                )
            ),
            6,
        ).alias("clustering"),
    )


# ======================================================================
# L2d: embedding-cosine near-dup pairs (blocked)
# ======================================================================
@query(
    "q_dedup_embed",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, {_DUCK_DVEC} AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_duck_cosine("a.v", "b.v")}, 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round({_duck_cosine("a.v", "b.v")}, 6) >= 0.4
    """,
)
def q_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: cluster-label blocking (the IVF-cell analog
    at scale) then exact cosine within each block — never a full cross
    join."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id_a"), "label", F.col("embedding").alias("va")
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"), "label", F.col("embedding").alias("vb")
    )
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos_sim") >= 0.4)
        .select("id_a", "id_b", "cos_sim")
    )


# ======================================================================
# L3: vector similarity search
# ======================================================================
_KNN_ORACLE = f"""
    WITH q AS (
      SELECT {_DUCK_DVEC} AS qv FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    ),
    c AS (
      SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings
      WHERE vec_id != (SELECT min(vec_id) FROM embeddings)
    )
    SELECT vec_id, round({_duck_cosine("v", "qv")}, 6) AS score
    FROM c, q
    ORDER BY score DESC, vec_id
    LIMIT 10
"""


@query("q_knn_topk", oracle=_KNN_ORACLE)
def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the min-vec_id query vector.
    TakeOrderedAndProject top-k — no global sort."""
    emb = load(spark, sf_dir, "embeddings")
    qvec, corpus = min_id_query_split(emb)
    return knn_topk(corpus, qvec, k=10)


@query("q_knn_ivf", oracle=None)  # IVF is approximate: rows-only check
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned ANN over TRAINED k-means cells (VERDICT_r7 #5 — the
    lowest-id ``deterministic_centroids`` stand-in is retired): the
    cells are the L36 Lloyd's model (memoized per corpus, shared with
    q_kmeans_cluster), nprobe=3 of k=8. At scale the cell assignment
    is a partition column and probing is partition pruning; recall is
    validated in tests against q_knn_topk (trained ≥ the stand-in's
    floor: 10/10 at sf0.001, 9/10 at sf0.01)."""
    from ..functions.kmeans import kmeans_centroid_frame
    from .model_queries import _kmeans_model

    emb, cm = _kmeans_model(spark, sf_dir)
    qvec, corpus = min_id_query_split(emb)
    centroids = kmeans_centroid_frame(spark, cm)
    return ivf_topk(corpus, centroids, qvec, k=10, nprobe=3)


def _pq_model(spark: SparkSession, sf_dir: str):
    """``emb, (books, d)``: the trained PQ codebooks."""
    from ..functions.vectors import pq_fit
    from ..tables import spread

    emb = load(spark, sf_dir, "embeddings")

    def build():
        row = emb.select(F.size("embedding").alias("d")).first()
        # spread(): the single-row-group corpus otherwise trains on
        # one partition (the codec-tier lesson)
        return pq_fit(spread(emb)), int(row["d"])

    return emb, trained("pq", corpus_key(sf_dir), build)


@query("q_knn_pq", oracle=None)  # trained codebooks: rows-only check
def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-QUANTIZATION ANN with exact rerank (r10) — the fourth
    ANN family beside sign-LSH (hash), IVF (partition pruning), and
    SQ (grid quantization), in the production two-stage layout:
    per-subspace trained codebooks (independent L2 Lloyd's over the
    normalized corpus, all subspaces in one distributed pass per
    iteration, train-once memoized per corpus fingerprint) reduce
    the corpus to PQ_M small ints per vector; Arrow-vectorized
    asymmetric-distance scoring of the in-plan broadcast query picks
    a PQ_SHORTLIST candidate set from codes alone; the raw vectors
    of ONLY those candidates are fetched back (broadcast semi-join)
    for the exact cosine top-10. Rows-only by design (the q_knn_ivf
    precedent — Lloyd's over doubles is not oracle-replayed);
    evidence is the pytest recall bound vs the brute cosine top-k
    plus codebook determinism.

    At 100 TB: stage 1 reads m·log2(k) bits per vector (64× smaller
    than the raw float32 corpus at the defaults) into a TakeOrdered
    heap, stage 2 touches PQ_SHORTLIST rows, nothing shuffles, and
    the same codes compose with the IVF cells for the classic
    IVF-PQ layout (partition-prune cells, ADC-score codes)."""
    from ..functions.vectors import min_id_query_split, pq_topk_rerank
    from ..tables import spread

    emb, (books, d) = _pq_model(spark, sf_dir)
    qvec, corpus = min_id_query_split(spread(emb))
    return pq_topk_rerank(corpus, qvec, books, d, k=10)


@query("q_knn_ivfpq", oracle=None)  # trained cells+codebooks: rows-only
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN over a MATERIALIZED index (r10) — the classic
    IVFADC layout composed from the engine's own trained artifacts:
    the L36 k-means cells are the coarse quantizer (index partitioned
    by cell → PartitionFilters prune unprobed directories before any
    I/O), the PQ codebooks are the fine quantizer (stage 1 reads
    ONLY the (id, pq_codes) columns of the probed cells — parquet
    column pruning keeps the raw vectors on disk), and the exact
    rerank fetches the shortlist's raw vectors from the same pruned
    cells. Index built once per corpus fingerprint and memoized
    (train-once/serve-many). Rows-only by the q_knn_ivf precedent;
    evidence is the pytest recall bound plus the pruning and
    column-pruning plan assertions.

    At 100 TB this is the serving layout the whole ANN tier builds
    to: I/O = nprobe/n_cells of the corpus at m·log2(k) bits per
    vector + PQ_SHORTLIST full vectors per query."""
    import os
    import tempfile

    from ..functions.kmeans import kmeans_centroid_frame
    from ..functions.vectors import (
        ivfpq_topk,
        min_id_query_split,
        write_ivfpq_index,
    )
    from ..tables import spread
    from .model_queries import _kmeans_model

    emb, (books, d) = _pq_model(spark, sf_dir)
    _, cm = _kmeans_model(spark, sf_dir)
    centroids = kmeans_centroid_frame(spark, cm)
    # the q_knn_ivf convention: the min-id query vector is NOT part
    # of the searched corpus, so the index is written without it
    qvec, corpus = min_id_query_split(spread(emb))
    ck = corpus_key(sf_dir)

    def build():
        path = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_ivfpq_{abs(hash(ck)):x}",
        )
        write_ivfpq_index(corpus, centroids, books, d, path)
        return path

    path = trained("ivfpq", ck, build)
    return ivfpq_topk(
        spark, path, centroids, qvec, books, d, k=10, nprobe=3
    )


@query(
    "q_udf_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings)
    SELECT a.vec_id, round({_duck_cosine("a.v", "b.v")}, 6) AS cos_next
    FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
    """,
)
def q_udf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas_udf cosine between consecutive vectors —
    the vectorized-Python path (SURVEY §2.10)."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select("vec_id", F.col("embedding").alias("va"))
    b = emb.select(
        (F.col("vec_id") - 1).alias("vec_id"), F.col("embedding").alias("vb")
    )
    return (
        a.join(b, "vec_id")
        .select(
            "vec_id",
            F.round(cosine_pandas(F.col("va"), F.col("vb")), 6).alias(
                "cos_next"
            ),
        )
    )


# ======================================================================
# L4: text analysis
# ======================================================================
@query(
    "q_text_tokens",
    oracle=f"""
    SELECT w AS token, count(*) AS n
    FROM documents, unnest({_DUCK_WORDS}) AS t(w)
    GROUP BY w
    """,
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize → explode → count: the UDTF-shaped pattern as pure
    relational ops."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.words(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_token_count",
    oracle=rf"""
    SELECT doc_id,
           len({_DUCK_WORDS}) AS ws_tokens,
           len(regexp_extract_all(text,
               '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \t\n\r\f\x0B]'))
             AS bpe_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        T.token_count(F.col("text")).cast("bigint").alias("ws_tokens"),
        F.size(T.bpe_ish_tokens(F.col("text"))).cast("bigint").alias(
            "bpe_tokens"
        ),
    )


def _lang_oracle() -> str:
    score_cols = ", ".join(
        "len(list_filter(ws, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
        + f"], lower(x)))) AS s_{lang}"
        for lang in T.LANG_PRIORITY
    )
    best = "greatest(" + ", ".join(f"s_{l}" for l in T.LANG_PRIORITY) + ")"
    case = " ".join(
        f"WHEN s_{l} = {best} THEN '{l}'" for l in T.LANG_PRIORITY[:-1]
    )
    return f"""
    WITH t AS (SELECT doc_id, lang, {_DUCK_WORDS} AS ws FROM documents),
    s AS (SELECT doc_id, lang, {score_cols} FROM t)
    SELECT doc_id, lang AS labeled_lang,
           CASE {case} ELSE '{T.LANG_PRIORITY[-1]}' END AS predicted_lang
    FROM s
    """


@query("q_lang_id", oracle=_lang_oracle())
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.lang_id(F.col("text")).alias("predicted_lang"),
    )


def _langid_eval_oracle() -> str:
    score_cols = ", ".join(
        "len(list_filter(ws, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
        + f"], lower(x)))) AS s_{lang}"
        for lang in T.LANG_PRIORITY
    )
    best = "greatest(" + ", ".join(f"s_{l}" for l in T.LANG_PRIORITY) + ")"
    case = " ".join(
        f"WHEN s_{l} = {best} THEN '{l}'" for l in T.LANG_PRIORITY[:-1]
    )
    return f"""
    WITH t AS (SELECT doc_id, lang, {_DUCK_WORDS} AS ws FROM documents),
    s AS (SELECT doc_id, lang, {score_cols} FROM t),
    p AS (
      SELECT lang AS labeled_lang,
             CASE {case} ELSE '{T.LANG_PRIORITY[-1]}' END
               AS predicted_lang
      FROM s
    )
    SELECT labeled_lang, predicted_lang, count(*) AS n
    FROM p GROUP BY labeled_lang, predicted_lang
    """


@query("q_langid_eval", oracle=_langid_eval_oracle())
def q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANG-ID CONFUSION MATRIX (r10) — the evaluation a pipeline
    reads before trusting its language gate: per (labeled, predicted)
    cell counts of the L4 stopword-scoring heuristic against the
    corpus labels, the heuristic twin of the trained tier's
    q_classifier_eval. The matrix is ≤|langs|² cells from ONE
    map-side-combined hash aggregate over the per-row prediction
    (same codegen scoring expression as q_lang_id — shared
    T.lang_id, so the gate and its eval can never drift); at 100 TB
    the state is language-squared, never row-proportional."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("lang").alias("labeled_lang"),
            T.lang_id(F.col("text")).alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: Flesch reading-ease coefficients (the published 1948 constants).
FLESCH_BASE = 206.835
FLESCH_WPS = 1.015
FLESCH_SPW = 84.6


def _readability_oracle() -> str:
    return rf"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_words,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS n_sentences,
             CAST(greatest(len(regexp_extract_all(lower(text),
                  '[aeiouy]+')), 1) AS BIGINT) AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CASE WHEN n_words = 0 THEN 0.0
                ELSE round({FLESCH_BASE}
                     - {FLESCH_WPS} * (CAST(n_words AS DOUBLE)
                                       / CAST(n_sentences AS DOUBLE))
                     - {FLESCH_SPW} * (CAST(n_syllables AS DOUBLE)
                                       / CAST(n_words AS DOUBLE)), 6)
           END AS flesch
    FROM t
    """


@query("q_text_readability", oracle=_readability_oracle())
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READABILITY scoring (r10) — the Flesch reading-ease quality
    signal (the classic C4/RefinedWeb-era heuristic family member
    this tier didn't yet carry): per doc,
    ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``
    with sentences counted as ``[.!?]+`` runs and syllables
    approximated as lowercase vowel-group runs (the standard
    regex-tier approximation; the fixed published constants make the
    score comparable across corpora). Sentence/syllable floors of 1
    keep fragment docs finite; a zero-word doc scores the explicit
    0.0 in both engines.

    One codegen regexp projection per row — no shuffle, no Python;
    patterns stay in the Java∩RE2-compatible subset the regexp tier
    documents, and the oracle replays count-for-count."""
    docs = load(spark, sf_dir, "documents")
    n_words = F.size(T.words(F.col("text"))).cast("long")
    n_sent = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")),
        F.lit(1),
    ).cast("long")
    n_syl = F.greatest(
        F.size(
            F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")
        ),
        F.lit(1),
    ).cast("long")
    score = F.when(F.col("n_words") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.lit(FLESCH_BASE)
            - F.lit(FLESCH_WPS)
            * (
                F.col("n_words").cast("double")
                / F.col("n_sentences").cast("double")
            )
            - F.lit(FLESCH_SPW)
            * (
                F.col("n_syllables").cast("double")
                / F.col("n_words").cast("double")
            ),
            6,
        )
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    ).select("doc_id", "n_words", "n_sentences", "n_syllables",
             score.alias("flesch"))


def _quality_oracle() -> str:
    en = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS["en"])
    return rf"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_WORDS} AS ws FROM documents
    ),
    f AS (
      SELECT doc_id,
             len(ws) AS n_tokens,
             length(text) AS n_chars,
             CAST(len(list_filter(ws, x -> list_contains([{en}], lower(x))))
                  AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS sr,
             CAST(length(text) -
                  length(regexp_replace(text, '[^\w \t\n\r\f\x0B]', '',
                                        'g'))
                  AS DOUBLE) / CAST(length(text) AS DOUBLE) AS pr
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(sr, 6) AS stopword_ratio,
           round(pr, 6) AS punct_ratio,
           round(0.5*sr + 0.4*least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)
                 - 0.1*pr, 6) AS quality
    FROM f
    """


# ======================================================================
# L4''': character-entropy quality signal
# ======================================================================
def _entropy_oracle() -> str:
    """Replays the ordered-fold entropy exactly: per-(doc, char)
    BIGINT counts, the Σ c·log2(c) terms folded in CHARACTER order
    (both engines sum the identical term list left-to-right — the
    zipf/KL float-determinism pattern), one final division + round."""
    return """
    WITH ch AS (
      SELECT doc_id, c, count(*) AS cnt FROM (
        SELECT doc_id,
               unnest(regexp_extract_all(coalesce(text, ''), '(?s).')) AS c
        FROM documents
      ) GROUP BY doc_id, c
    ),
    agg AS (
      SELECT doc_id,
             CAST(sum(cnt) AS BIGINT) AS n_chars,
             CAST(count(*) AS BIGINT) AS distinct_chars,
             list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE))
                      ORDER BY c)),
               (a, b) -> a + b) AS sc
      FROM ch GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_chars, CAST(0 AS BIGINT)) AS n_chars,
           coalesce(a.distinct_chars, CAST(0 AS BIGINT)) AS distinct_chars,
           CASE WHEN coalesce(a.n_chars, 0) = 0 THEN 0.0
                ELSE round(log2(CAST(a.n_chars AS DOUBLE))
                           - a.sc / CAST(a.n_chars AS DOUBLE), 6)
           END AS entropy_bits
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """


@query("q_quality_entropy", oracle=_entropy_oracle())
def q_quality_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTER-ENTROPY quality signal (r13) — the classic cheap
    spam/garbage detector the heuristic tier (length/stopword/punct
    ratios, repetition, bigram LM, readability) did not yet carry:
    per-document Shannon entropy over characters. Near-zero entropy
    = one repeated character (padding spam); unusually high entropy
    = binary/base64 junk pasted into text — both standard cut
    criteria in web-corpus pipelines.

    Exact-determinism shape (the zipf/KL precedent): character
    counts are exact BIGINTs; the only floats are the Σ c·log2(c)
    terms, folded in SORTED CHARACTER ORDER in both engines (Spark:
    sort_array(collect_list(struct)) + F.aggregate; DuckDB:
    list(... ORDER BY c) + list_reduce), so the left-to-right sum is
    bit-identical and H = log2(n) − sc/n rounds to the same 6
    decimals. NULL/empty docs keep (0, 0, 0.0) via the left join.

    Scale shape: one explode + (doc, char) hash aggregate (map-side
    combined; ≤ alphabet-size rows per doc), one per-doc fold over a
    ≤ alphabet-size array — no window, no join beyond the final
    labels-sized left join back to doc ids, no Python."""
    docs = load(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id",
        F.explode(
            F.split(F.coalesce(F.col("text"), F.lit("")), "")
        ).alias("c"),
    ).filter(F.col("c") != "")
    per = (
        ex.groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_chars"),
            F.count(F.lit(1)).cast("bigint").alias("distinct_chars"),
            F.aggregate(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("c", "cnt"))
                    ),
                    lambda s: s.cnt.cast("double")
                    * F.log2(s.cnt.cast("double")),
                ),
                F.lit(0.0).cast("double"),
                lambda a, x: a + x,
            ).alias("sc"),
        )
    )
    entropy = F.when(
        F.coalesce("n_chars", F.lit(0)) == 0, F.lit(0.0)
    ).otherwise(
        F.round(
            F.log2(F.col("n_chars").cast("double"))
            - F.col("sc") / F.col("n_chars").cast("double"),
            6,
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_chars", F.lit(0).cast("bigint")).alias(
                "n_chars"
            ),
            F.coalesce(
                "distinct_chars", F.lit(0).cast("bigint")
            ).alias("distinct_chars"),
            entropy.alias("entropy_bits"),
        )
    )


@query("q_quality_score", oracle=_quality_oracle())
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    feats = T.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_tokens"].cast("bigint").alias("n_tokens"),
        F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
        T.quality_score(F.col("text")).alias("quality"),
    )


# ======================================================================
# L43: quality-percentile gate (L39 cells feeding selection, in-plan)
# ======================================================================
#: Quality-gate grid: finer and shifted for the score domain
#: (~[-0.1, 0.9]) — 256 cells of 1/256 (a power of two: q/width and
#: every edge are exact doubles). Gate keeps docs STRICTLY ABOVE the
#: QG_PCT-percentile cell.
QG_WIDTH = 1.0 / 256
QG_BUCKETS = 256
QG_PCT = 0.75


def _quality_gate_oracle() -> str:
    en = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS["en"])
    top = QG_BUCKETS * QG_WIDTH - QG_WIDTH
    bucket = (
        f"CASE WHEN isnan(q) THEN 0"
        f" ELSE CAST(floor(least(greatest(q, 0.0), {top!r})"
        f" / {QG_WIDTH!r}) AS BIGINT) END"
    )
    return rf"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_WORDS} AS ws FROM documents
    ),
    f AS (
      SELECT doc_id,
             len(ws) AS n_tokens,
             CAST(len(list_filter(ws, x -> list_contains([{en}], lower(x))))
                  AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS sr,
             CAST(length(text) -
                  length(regexp_replace(text, '[^\w \t\n\r\f\x0B]', '',
                                        'g'))
                  AS DOUBLE) / CAST(length(text) AS DOUBLE) AS pr
      FROM t
    ),
    qs AS (
      SELECT doc_id,
             round(0.5*sr + 0.4*least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)
                   - 0.1*pr, 6) AS q
      FROM f
    ),
    qbt AS (SELECT doc_id, q, {bucket} AS qb FROM qs),
    gcells AS (SELECT qb, count(*) AS cnt FROM qbt GROUP BY qb),
    gcum AS (
      SELECT qb, sum(cnt) OVER (ORDER BY qb) AS cum,
             sum(cnt) OVER () AS n
      FROM gcells
    ),
    thr AS (
      SELECT min(CASE WHEN cum >= ceil({QG_PCT} * CAST(n AS DOUBLE))
                      THEN qb END) AS t
      FROM gcum
    )
    SELECT doc_id, q AS quality,
           qbt.qb > (SELECT t FROM thr) AS kept
    FROM qbt
    """


@query("q_quality_gate", oracle=_quality_gate_oracle())
def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-PERCENTILE gate — keep the docs strictly above the
    corpus's own QG_PCT quality percentile, with the threshold
    DERIVED IN-PLAN from the L39 binned-quantile cells (L39 ∘ L4, the
    temperature-rates philosophy applied to quality selection): no
    externally tuned score floor, the corpus's own distribution sets
    the bar, and the monitor cells ARE the selection machinery — the
    composition a drifting crawl needs (an absolute floor silently
    keeps everything when quality drifts up, or nothing when it
    drifts down; a percentile gate keeps the same fraction).

    Plan: per-doc quality is a codegen projection; the corpus
    collapses to ≤QG_BUCKETS additive cells in ONE map-side-combined
    aggregate; the cumulative + threshold run over the ≤256-row cell
    table (the W1 tiny-prefix shape); the 1-row threshold broadcasts
    back onto the scored corpus for an integer bucket comparison. The
    gate compares BUCKETS, not floats, so it cannot flip on float
    residue; NaN quality (empty doc) pins to cell 0 and is never
    kept. Doc-level output — the oracle checks every keep decision."""
    from ..functions.sketches import (
        percentile_threshold_cell,
        quantile_bucket,
    )

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        T.quality_score(F.col("text")).alias("q"),
    ).withColumn(
        "qb", quantile_bucket(F.col("q"), QG_WIDTH, QG_BUCKETS)
    )
    cells = scored.groupBy("qb").agg(F.count(F.lit(1)).alias("cnt"))
    # threshold derivation factored to sketches.percentile_threshold_cell
    # (r10): shared with the corpus_prep selection stage
    thr = percentile_threshold_cell(cells, QG_PCT)
    return scored.join(F.broadcast(thr)).select(
        "doc_id",
        F.col("q").alias("quality"),
        (F.col("qb") > F.col("t")).alias("kept"),
    )


@query(
    "q_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {_duck_hash("substr(lower(" + _DUCK_WS_STRIP + "), 1, 256)")} AS fingerprint
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fingerprint")
    )


# ======================================================================
# L5: multimodal metadata (mapInPandas plumbing; codec stubbed)
# ======================================================================
@query(
    "q_multimodal_meta",
    oracle="""
    WITH b AS (
      SELECT doc_id, sha256(text) AS sha, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    )
    SELECT doc_id AS media_id,
           CAST(n AS BIGINT) AS byte_len,
           sha AS sha256,
           CASE WHEN n = 0 THEN 0
                ELSE ('0x' || substr(h, 1, 2))::INTEGER % 64 + 1
           END AS width,
           CASE WHEN n = 0 THEN 0
                ELSE ('0x' || substr(h, CASE WHEN n >= 2 THEN 3 ELSE 1 END,
                                     2))::INTEGER % 64 + 1
           END AS height
    FROM b
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction through the real mapInPandas
    plumbing (deterministic fake decoder — see functions.multimodal)."""
    docs = load(spark, sf_dir, "documents")
    media = attach_payload(docs, "doc_id", "text")
    return extract_metadata(media, fake_decode=True)


@query(
    "q_multimodal_decode",
    oracle="""
    SELECT doc_id AS media_id,
           'png' AS format,
           CAST(length(coalesce(text, '')) % 64 + 1 AS INTEGER) AS width,
           CAST((length(coalesce(text, '')) * 7) % 64 + 1 AS INTEGER)
             AS height,
           CAST(8 AS INTEGER) AS bit_depth,
           CAST(1 AS INTEGER) AS channels,
           CAST((length(coalesce(text, '')) * 13) % 256 AS DOUBLE)
             AS avg_pixel
    FROM documents
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5 with a REAL codec: synthesize a real PNG per document
    (dims/fill deterministically derived from the text, scanline
    filters rotating over all five types), then decode it for real —
    chunk walk, IHDR parse, zlib inflate, full unfilter — via
    mapInPandas. The oracle predicts the roundtrip (header fields and
    the solid-fill pixel mean) from the text alone, so a wrong
    encoder OR decoder fails the compare. No imaging library involved
    (functions/codecs.py is stdlib+numpy).
    """
    from ..functions.multimodal import synth_png_image_meta
    from ..tables import spread

    # single-row-group parquet scans as ONE partition; the Python
    # codec stage needs the cores. r14: synth and decode fused into
    # one Arrow stage (same encode→decode walk, one Python launch)
    docs = spread(load(spark, sf_dir, "documents"))
    return synth_png_image_meta(docs, "doc_id", "text")


def _dedup_groups_oracle() -> str:
    """Connected components ARE SQL-expressible: a recursive CTE
    computes the transitive closure of the (symmetrized) near-dup edge
    set, and min(reachable id) per vertex is the component label —
    exactly what label propagation + pointer jumping converge to.
    Closure size is quadratic per component, fine for an oracle (dedup
    groups are small by construction); the Spark side stays the O(log
    diameter) iterative plan that scales. Upgrades q_dedup_groups from
    rows-only to a full value-hash check (VERDICT_r4 #8)."""
    return f"""
    WITH RECURSIVE {_duck_shingle_hashes()},
    ex AS (
      SELECT doc_id, len(sh_arr) AS n_sh, unnest(sh_arr) AS sh
      FROM sha WHERE len(sh_arr) > 0
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb,
             count(*) AS common
      FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      WHERE round(CAST(common AS DOUBLE) / CAST(na + nb - common AS DOUBLE),
                  6) >= 0.5
        AND na >= 0.5 * nb AND nb >= 0.5 * na
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    )
    SELECT a AS doc_id, least(a, min(b)) AS group_id FROM reach GROUP BY a
    """


@query("q_dedup_groups", oracle=_dedup_groups_oracle())
def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → transitive dedup GROUPS via distributed
    connected components (label propagation + pointer jumping,
    operators/graph.py).

    The iterative fixed point is nonetheless exactly checkable: the
    oracle's recursive CTE computes the same min-reachable-id labels
    through transitive closure, so this is a full value-hash row (it
    was rows-only through r4). The union-find reference comparison in
    tests/test_graph.py stays as the property-level check. This is the
    step that turns pairwise similarity into keep-one-per-group
    decisions — a corpus dedup is not done until overlapping pairs are
    unioned.
    """
    from ..functions.dedup import jaccard_pairs
    from ..operators.graph import dedup_groups

    pairs = jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5)
    return dedup_groups(pairs)


# ======================================================================
# L2'': dedup group-size distribution (cluster-size histogram)
# ======================================================================
def _group_sizes_oracle() -> str:
    base = _dedup_groups_oracle()
    # reuse the full recursive-closure chain; swap the final SELECT
    # for the size histogram
    final = "SELECT a AS doc_id, least(a, min(b)) AS group_id FROM reach GROUP BY a"
    assert base.rstrip().endswith(final)
    return (
        base.rstrip()[: -len(final)]
        + """, gl AS (
      SELECT a AS doc_id, least(a, min(b)) AS group_id
      FROM reach GROUP BY a
    ),
    gs AS (SELECT group_id, count(*) AS group_size FROM gl
           GROUP BY group_id)
    SELECT group_size, count(*) AS n_groups
    FROM gs GROUP BY group_size
    """
    )


@query("q_dedup_group_sizes", oracle=_group_sizes_oracle())
def q_dedup_group_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUP-CLUSTER SIZE HISTOGRAM (r10) — the dashboard number behind
    the L2' grouping: how large do transitive near-dup clusters get?
    (size, n_groups) over the connected components of the near-dup
    pair graph — a long tail here means boilerplate/template families
    the pairwise view undersells, and it is the number that decides
    whether keep-one-per-group is deleting 1% or 30% of the corpus.
    Composes the exact L2' machinery (same pairs, same CC labels —
    the oracle extends the same recursive-closure chain), then two
    tiny aggregates: per-group size, then the histogram over the
    GROUP table (≤ n_groups rows, never documents)."""
    from ..functions.dedup import jaccard_pairs
    from ..operators.graph import dedup_groups

    pairs = jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.5)
    gl = dedup_groups(pairs)
    return (
        gl.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


# ======================================================================
# L2i: near-dup KEEP LIST (the dedup pipeline's final verdict table)
# ======================================================================
def _keep_list_oracle() -> str:
    base = _dedup_groups_oracle()
    final = "SELECT a AS doc_id, least(a, min(b)) AS group_id FROM reach GROUP BY a"
    assert base.rstrip().endswith(final)
    return (
        base.rstrip()[: -len(final)]
        + """, klab AS (
      SELECT a AS doc_id, least(a, min(b)) AS group_id
      FROM reach GROUP BY a
    )
    SELECT d.doc_id,
           coalesce(k.group_id, d.doc_id) AS group_id,
           CAST(CASE WHEN coalesce(k.group_id, d.doc_id) = d.doc_id
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM documents d LEFT JOIN klab k USING (doc_id)
    """
    )


@query("q_dedup_keep_list", oracle=_keep_list_oracle())
def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup KEEP LIST (r13) — the verdict table the whole dedup
    pipeline exists to produce: one row per document with its
    transitive group and the keep/drop decision. Pairs (L2) →
    connected components (L2') → keep-one-per-group, materialized
    over the FULL corpus (ungrouped docs are their own keeper via
    the left join), so a curation run can anti-join the drop set in
    one step instead of re-deriving it from the label table.

    The keeper convention falls out of the CC labels for free: the
    component label IS the min member id (operators/graph.py), so
    keep = (doc_id == group_id) — no second aggregate over groups,
    no extra shuffle beyond the L2' machinery this composes. keep is
    CAST to INT for the cross-engine value hash (the engine-wide
    boolean-column convention).

    Scale shape (r14, VERDICT_r13 #5 — the docstring previously
    oversold this as "bucketed pair generation"): the pair tier here
    is the ORACLE-TIER unpruned ``jaccard_pairs`` inverted index —
    exact and fully value-hash-replayable, but carrying that
    function's documented stop-shingle skew caveat. The SCALE path
    for a keep list is GroupStore.drop_list() over LSH-verified
    pairs (functions/dedup.py — incremental, banded, pytest-proven
    stream ≡ batch); this declared query keeps the unpruned tier so
    the whole chain stays exact under the oracle. Downstream of the
    pairs: O(log d) label propagation over the edges-sized table
    plus ONE left join back to the doc ids — the labels table is
    components-sized, never corpus-sized. Oracle extends the same
    recursive-closure chain."""
    from ..functions.dedup import jaccard_pairs
    from ..operators.graph import dedup_groups

    docs = load(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.5)
    gl = dedup_groups(pairs)
    return docs.select("doc_id").join(gl, "doc_id", "left").select(
        "doc_id",
        F.coalesce("group_id", "doc_id").alias("group_id"),
        (F.coalesce("group_id", "doc_id") == F.col("doc_id"))
        .cast("int")
        .alias("keep"),
    )


# ======================================================================
# L41: per-document n-gram novelty (corpus-uniqueness metric)
# ======================================================================
def _ngram_novelty_oracle() -> str:
    return f"""
    WITH {_duck_shingle_hashes()},
    nex AS (SELECT doc_id, unnest(sh_arr) AS sh FROM sha),
    ndf AS (SELECT sh, count(*) AS df FROM nex GROUP BY sh),
    nper AS (
      SELECT nex.doc_id,
             count(*) AS n_shingles,
             sum(CASE WHEN ndf.df = 1 THEN 1 ELSE 0 END) AS n_novel
      FROM nex JOIN ndf USING (sh)
      GROUP BY nex.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(nper.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(nper.n_novel, 0) AS BIGINT) AS n_novel,
           round(CAST(coalesce(nper.n_novel, 0) AS DOUBLE)
                 / greatest(1, coalesce(nper.n_shingles, 0)), 6)
             AS novelty
    FROM documents d LEFT JOIN nper USING (doc_id)
    """


@query("q_ngram_novelty", oracle=_ngram_novelty_oracle())
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document N-GRAM NOVELTY — the fraction of a doc's distinct
    3-gram shingles that appear in NO other document: the corpus-
    uniqueness metric a curation pipeline reads next to the dedup
    tier (novelty ≈ 1 → the doc contributes genuinely new text;
    novelty ≈ 0 → it is assembled from text the corpus already has —
    boilerplate, near-dup residue, template spam). The complement of
    the dedup family's pairwise view: one number per doc, no pair
    enumeration at all.

    Plan: the shared persisted shingle-hash arrays (the exact dedup-
    tier machinery, functions/dedup.py::shingle_hash_arrays) explode
    once; shingle document-frequency is ONE map-side-combined hash
    aggregate; the df join shuffles on the shingle key (co-partitioned
    with the aggregate's own exchange); the per-doc aggregate and the
    left join back to documents close it out. Short docs (< 3 words)
    report 0 shingles and novelty 0 via the greatest(1, n)-guarded
    division — never NaN, identically in both engines."""
    from ..functions.dedup import novelty_per_doc

    docs = load(spark, sf_dir, "documents")
    # metric factored to dedup.novelty_per_doc (r10): shared with the
    # ShingleDfStore serve path and the corpus_prep diversity stage
    return novelty_per_doc(docs)


# ======================================================================
# L4+: training-data hygiene — contamination, PII scrub, repetition
# ======================================================================
def _contamination_oracle() -> str:
    """Replays contamination_report: benchmark = doc_id % 50 == 0."""
    return f"""
    WITH {_duck_shingle_hashes()},
    bench AS (
      SELECT DISTINCT s AS sh
      FROM sha, unnest(sh_arr) AS t(s)
      WHERE doc_id % 50 = 0
    ),
    ex AS (SELECT doc_id, s AS sh FROM sha, unnest(sh_arr) AS t(s)),
    hits AS (
      SELECT ex.doc_id, count(*) AS n_hits
      FROM ex JOIN bench USING (sh)
      GROUP BY ex.doc_id
    )
    SELECT sha.doc_id,
           CAST(len(sh_arr) AS BIGINT) AS n_sh,
           coalesce(hits.n_hits, 0) AS n_hits,
           round(coalesce(hits.n_hits, 0)::DOUBLE / len(sh_arr), 6)
             AS overlap,
           CAST(coalesce(hits.n_hits, 0)::DOUBLE / len(sh_arr) >= 0.5
             AS INTEGER) AS contaminated
    FROM sha LEFT JOIN hits USING (doc_id)
    """


@query("q_contamination", oracle=_contamination_oracle())
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: per-doc word-3-gram overlap with
    a deterministic holdout 'benchmark' slice (doc_id % 50 == 0) —
    the pre-training hygiene step that keeps eval text out of the
    training corpus. Semi-join on int64 shingle hashes; the benchmark
    shingle set is eval-sized (AQE broadcasts when it fits)."""
    from ..functions.dedup import contamination_report

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    rep = contamination_report(docs, bench, threshold=0.5)
    return rep.select(
        F.col("id").alias("doc_id"),
        F.col("n_sh").cast("bigint").alias("n_sh"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        "overlap",
        "contaminated",
    )


def _pii_oracle() -> str:
    from ..functions.text import PII_PATTERNS

    e, p, i = (
        PII_PATTERNS["email"],
        PII_PATTERNS["phone"],
        PII_PATTERNS["ipv4"],
    )
    redacted = (
        f"regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{e}', '<EMAIL>', 'g'), '{p}', '<PHONE>', 'g'), "
        f"'{i}', '<IPV4>', 'g')"
    )
    return f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{e}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(text, '{i}')) AS BIGINT) AS n_ips,
           md5({redacted}) AS clean_hash
    FROM documents
    """


@query("q_pii_scrub", oracle=_pii_oracle())
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: per-category match counts + md5 of the redacted
    text (email → phone → ipv4, fixed order). Pure codegen regexp —
    the patterns live in the Java-regex ∩ RE2 subset so the oracle
    matches them byte-for-byte."""
    docs = load(spark, sf_dir, "documents")
    counts = T.pii_counts(F.col("text"))
    return docs.select(
        "doc_id",
        counts["email"].cast("bigint").alias("n_emails"),
        counts["phone"].cast("bigint").alias("n_phones"),
        counts["ipv4"].cast("bigint").alias("n_ips"),
        F.md5(T.pii_redact(F.col("text"))).alias("clean_hash"),
    )


def _markup_oracle() -> str:
    from ..functions.text import HTML_ENTITIES, TAG_PATTERN

    clean = f"regexp_replace(text, '{TAG_PATTERN}', ' ', 'g')"
    for ent, rep in HTML_ENTITIES:
        rep_sql = rep.replace("'", "''")
        clean = f"replace({clean}, '{ent}', '{rep_sql}')"
    clean = (
        rf"regexp_replace({clean}, '[ \t\n\r\f\x0B]+', ' ', 'g')"
    )
    clean = (
        rf"regexp_replace({clean},"
        rf" '^[ \t\n\r\f\x0B]+|[ \t\n\r\f\x0B]+$', '', 'g')"
    )
    ents = " + ".join(
        f"((length(text) - length(replace(text, '{ent}', '')))"
        f" // {len(ent)})"
        for ent, _ in HTML_ENTITIES
    )
    return f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{TAG_PATTERN}')) AS BIGINT)
             AS n_tags,
           CAST({ents} AS BIGINT) AS n_entities,
           md5({clean}) AS clean_hash
    FROM documents
    """


@query("q_markup_strip", oracle=_markup_oracle())
def q_markup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/markup extraction (the C4-tier cleanup every web corpus
    runs first): drop tags, decode the common entities ('&amp;' last,
    single-pass semantics), collapse whitespace runs, trim — plus the
    per-doc removal counts a crawl-hygiene dashboard tracks. Entirely
    codegen regexp/replace in the Java ∩ RE2 ∩ DuckDB subset, so the
    oracle replays the cleaned text byte-for-byte (compared by md5).
    A regex-tier cleaner, not a browser parser — a '>' inside an
    attribute ends a tag match early, documented boundary. The driver
    corpus carries no markup (the no-op + whitespace-normalize path is
    what its rows check exactly); tagged/entity-laden inputs are
    exercised by the nasty-corpus fuzz, which runs every
    documents-only oracle on handcrafted and random markup-bearing
    rows."""
    from ..functions.text import markup_profile

    prof = markup_profile(load(spark, sf_dir, "documents"))
    return prof.select(
        F.col("id").alias("doc_id"),
        F.col("n_tags").cast("bigint").alias("n_tags"),
        F.col("n_entities").cast("bigint").alias("n_entities"),
        F.md5(F.col("clean_text")).alias("clean_hash"),
    )


def _url_oracle() -> str:
    # the pattern embeds AS-IS: DuckDB standard string literals keep
    # backslashes literal, so '\t' in the SQL text reaches RE2 as the
    # two-char escape it parses — doubling them (my first attempt)
    # poisons the character class (caught by the random-corpus fuzz)
    from ..functions.text import URL_PATTERN

    pat = URL_PATTERN
    return f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{pat}', 1)) AS BIGINT)
             AS n_urls,
           coalesce(array_to_string(
             list_transform(regexp_extract_all(text, '{pat}', 1),
                            d -> lower(d)), ','), '') AS domains
    FROM documents
    """


@query("q_url_domains", oracle=_url_oracle())
def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc URL/domain harvest — the blocklist and
    source-attribution front of a web pipeline (RefinedWeb's URL
    filtering): extract every http(s) URL, keep the lowercased host,
    preserve in-doc order. One codegen regexp projection, no shuffle.
    Domains project as a comma-joined string (driver canonicalizer
    cannot hash array cells — the q_vector_sq rule). Like
    q_markup_strip, real URL-bearing inputs are covered by the
    nasty-corpus fuzz; the driver corpus checks the zero-URL path."""
    from ..functions.text import url_domains

    u = url_domains(load(spark, sf_dir, "documents"))
    return u.select(
        F.col("id").alias("doc_id"),
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.array_join("domains", ",").alias("domains"),
    )


@query(
    "q_quality_repetition",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    ex AS (SELECT doc_id, wd FROM w, unnest(ws) AS t(wd)),
    wc AS (SELECT doc_id, wd, count(*) AS cnt FROM ex GROUP BY doc_id, wd)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_words,
           count(*) AS n_distinct,
           round(count(*)::DOUBLE / sum(cnt), 6) AS distinct_ratio,
           round(max(cnt)::DOUBLE / sum(cnt), 6) AS max_freq_ratio
    FROM wc GROUP BY doc_id
    """,
)
def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-repetition quality signals (degenerate/boilerplate text
    detection): distinct ratio and top-word frequency share, from one
    explode → (doc, word) count → per-doc aggregate chain — no join,
    no second pass over the text."""
    docs = load(spark, sf_dir, "documents")
    return T.repetition_profile(docs).withColumnRenamed("id", "doc_id")


def _hyperplane_oracle(n_bits: int = 6) -> str:
    from ..functions.vectors import HYPER_MOD, HYPER_P1, HYPER_P2

    def dotj(j: int) -> str:
        plane = (
            f"((({j}*{HYPER_P1} + (i-1)*{HYPER_P2} + 1) % {HYPER_MOD})"
            f"::DOUBLE / {HYPER_MOD} - 0.5)"
        )
        return (
            f"list_reduce(list_transform(range(1, len(v)+1), "
            f"i -> v[i] * {plane}), (a, b) -> a + b)"
        )

    sig = " + ".join(
        f"(CASE WHEN {dotj(j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_bits)
    )
    return f"""
    WITH e AS (SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings),
    s AS (SELECT vec_id, v, CAST({sig} AS INTEGER) AS sig FROM e),
    q AS (
      SELECT v AS qv, sig AS qsig FROM s
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    ),
    c AS (
      SELECT vec_id, v, sig FROM s
      WHERE vec_id != (SELECT min(vec_id) FROM embeddings)
    )
    SELECT vec_id, round({_duck_cosine("v", "qv")}, 6) AS score
    FROM c, q WHERE c.sig = q.qsig
    ORDER BY score DESC, vec_id
    LIMIT 10
    """


@query("q_knn_hyperplane", oracle=_hyperplane_oracle())
def q_knn_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN: deterministic hyperplane bucket join + exact
    cosine top-10 inside the query's bucket. Unlike IVF (rows-only,
    trained centroids) the hash is pure arithmetic, so this
    approximate index is oracle-checked end-to-end — every bucket
    assignment and score must match the SQL replay exactly."""
    from ..functions.vectors import hyperplane_topk

    emb = load(spark, sf_dir, "embeddings")
    qvec, corpus = min_id_query_split(emb)
    return hyperplane_topk(corpus, qvec, k=10, n_bits=6)


# ======================================================================
# L3''': kNN classification (pseudo-labeling over the sign-LSH buckets)
# ======================================================================
#: Neighbors per vote.
KNN_CLASSIFY_K = 5


def _knn_classify_oracle(n_bits: int = 6) -> str:
    from ..functions.vectors import HYPER_MOD, HYPER_P1, HYPER_P2

    def dotj(j: int) -> str:
        plane = (
            f"((({j}*{HYPER_P1} + (i-1)*{HYPER_P2} + 1) % {HYPER_MOD})"
            f"::DOUBLE / {HYPER_MOD} - 0.5)"
        )
        return (
            f"list_reduce(list_transform(range(1, len(v)+1), "
            f"i -> v[i] * {plane}), (a, b) -> a + b)"
        )

    sig = " + ".join(
        f"(CASE WHEN {dotj(j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_bits)
    )
    guarded_cos = (
        "CASE WHEN list_dot_product(a.v, a.v) > 0"
        " AND list_dot_product(b.v, b.v) > 0"
        f" THEN {_duck_cosine('a.v', 'b.v')}"
        " ELSE -1.0 END"
    )
    return f"""
    WITH ke AS MATERIALIZED (
      SELECT vec_id, label, {_DUCK_DVEC} AS v FROM embeddings
    ),
    ks AS MATERIALIZED (
      SELECT vec_id, label, v, CAST({sig} AS INTEGER) AS sig FROM ke
    ),
    knb AS (
      SELECT a.vec_id, b.label AS nlabel,
             row_number() OVER (PARTITION BY a.vec_id
                ORDER BY {guarded_cos} DESC, b.vec_id) AS rn
      FROM ks a JOIN ks b ON a.sig = b.sig AND a.vec_id != b.vec_id
      WHERE b.label IS NOT NULL
    ),
    kvotes AS (
      SELECT vec_id, nlabel, count(*) AS cnt FROM knb
      WHERE rn <= {KNN_CLASSIFY_K}
      GROUP BY vec_id, nlabel
    ),
    kpred AS (
      SELECT vec_id, nlabel AS pred FROM (
        SELECT vec_id, nlabel,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY cnt DESC, nlabel) AS pr
        FROM kvotes) z WHERE pr = 1
    )
    SELECT ks.vec_id AS vec_id,
           CAST(ks.label AS BIGINT) AS label,
           CAST(coalesce(kpred.pred, -1) AS BIGINT) AS pred,
           (kpred.pred IS NOT NULL AND kpred.pred = ks.label) AS correct
    FROM ks LEFT JOIN kpred USING (vec_id)
    """


@query("q_knn_classify", oracle=_knn_classify_oracle())
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN CLASSIFICATION / pseudo-labeling (r10) — the training-free
    auto-labeler a data pipeline runs before it has a trained
    classifier: every vector is predicted the MAJORITY LABEL of its
    KNN_CLASSIFY_K nearest LABELED neighbors (exact guarded cosine,
    ties on smaller neighbor id) inside its sign-LSH bucket; vote
    ties break on the smaller label; a vector with no labeled
    bucket-mates abstains (pred = -1, correct = false). The deterministic-bucket twin of
    what an IVF-blocked kNN classifier does at scale — and because
    the hash is pure arithmetic, bucket assignment, every neighbor
    rank, every vote and every tie-break are oracle-replayed.

    Scale shape: pairs are bounded per bucket (the L9 posture); the
    neighbor ranking is a window PARTITIONED by target vector over
    its own bucket's candidates — never a global sort; the vote is a
    map-side-combined hash aggregate over ≤K rows per vector. A
    zero vector scores the guarded -1.0 against everything (never
    NaN ordering skew), identically in both engines."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine, dot, hyperplane_sig
    from ..tables import spread

    emb = load(spark, sf_dir, "embeddings")
    s = persist(
        spread(emb).select(
            "vec_id",
            F.col("label").cast("long").alias("label"),
            "embedding",
            hyperplane_sig(F.col("embedding"), 6).alias("sig"),
        )
    )
    a = s.select(
        F.col("vec_id").alias("__ida"),
        F.col("embedding").alias("__va"),
        "sig",
    )
    # only LABELED neighbors vote (fuzz-pinned: a NULL-label voter
    # group would order NULLS FIRST in Spark vs LAST in DuckDB at a
    # vote tie — and pseudo-labeling consults the labeled set anyway)
    b = s.filter(F.col("label").isNotNull()).select(
        F.col("vec_id").alias("__idb"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("__vb"),
        "sig",
    )
    gcos = F.when(
        (dot(F.col("__va"), F.col("__va")) > 0)
        & (dot(F.col("__vb"), F.col("__vb")) > 0),
        cosine(F.col("__va"), F.col("__vb")),
    ).otherwise(F.lit(-1.0))
    w_nb = Window.partitionBy("__ida").orderBy(
        gcos.desc(), F.col("__idb")
    )
    votes = (
        a.join(b, "sig")
        .filter(F.col("__ida") != F.col("__idb"))
        .withColumn("rn", F.row_number().over(w_nb))
        .filter(F.col("rn") <= KNN_CLASSIFY_K)
        .groupBy("__ida", "nlabel")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_pr = Window.partitionBy("__ida").orderBy(
        F.col("cnt").desc(), F.col("nlabel")
    )
    pred = (
        votes.withColumn("pr", F.row_number().over(w_pr))
        .filter(F.col("pr") == 1)
        .select(F.col("__ida").alias("vec_id"), F.col("nlabel").alias("__pred"))
    )
    return s.join(pred, "vec_id", "left").select(
        "vec_id",
        "label",
        F.coalesce(F.col("__pred"), F.lit(-1).cast("long")).alias("pred"),
        (
            F.col("__pred").isNotNull()
            & (F.col("__pred") == F.col("label"))
        ).alias("correct"),
    )


# ======================================================================
# L3'''': ANN recall@k evaluation harness
# ======================================================================
#: Every RECALL_STRIDE-th vec_id is a benchmark query.
RECALL_STRIDE = 25
#: Neighbors per list (exact ground truth and ANN alike).
RECALL_K = 10


def _knn_recall_oracle(n_bits: int = 6) -> str:
    from ..functions.vectors import HYPER_MOD, HYPER_P1, HYPER_P2

    def dotj(j: int) -> str:
        plane = (
            f"((({j}*{HYPER_P1} + (i-1)*{HYPER_P2} + 1) % {HYPER_MOD})"
            f"::DOUBLE / {HYPER_MOD} - 0.5)"
        )
        return (
            f"list_reduce(list_transform(range(1, len(v)+1), "
            f"i -> v[i] * {plane}), (a, b) -> a + b)"
        )

    sig = " + ".join(
        f"(CASE WHEN {dotj(j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_bits)
    )
    gcos = (
        "CASE WHEN list_dot_product(rq.qv, rq.qv) > 0"
        " AND list_dot_product(s.v, s.v) > 0"
        f" THEN {_duck_cosine('s.v', 'rq.qv')}"
        " ELSE -1.0 END"
    )
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings
    ),
    s AS MATERIALIZED (
      SELECT vec_id, v, CAST({sig} AS INTEGER) AS sig FROM e
    ),
    rq AS MATERIALIZED (
      SELECT vec_id AS qid, v AS qv, sig AS qsig FROM s
      WHERE vec_id % {RECALL_STRIDE} = 0
    ),
    rex AS (
      SELECT rq.qid, s.vec_id AS cid,
             row_number() OVER (PARTITION BY rq.qid
               ORDER BY {gcos} DESC, s.vec_id) AS rn
      FROM rq JOIN s ON s.vec_id != rq.qid
    ),
    rtop AS (SELECT qid, cid FROM rex WHERE rn <= {RECALL_K}),
    ran AS (
      SELECT rq.qid, s.vec_id AS cid,
             row_number() OVER (PARTITION BY rq.qid
               ORDER BY {gcos} DESC, s.vec_id) AS rn
      FROM rq JOIN s ON s.sig = rq.qsig AND s.vec_id != rq.qid
    ),
    rantop AS (SELECT qid, cid FROM ran WHERE rn <= {RECALL_K})
    SELECT rtop.qid AS qid,
           count(*) AS n_exact,
           count(rantop.cid) AS n_hit,
           round(count(rantop.cid)::DOUBLE / count(*)::DOUBLE, 6)
             AS recall
    FROM rtop LEFT JOIN rantop USING (qid, cid)
    GROUP BY rtop.qid
    """


@query("q_knn_recall", oracle=_knn_recall_oracle())
def q_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN RECALL@K evaluation harness (r10) — the measurement every
    approximate index ships with: for a fixed-rate panel of benchmark
    queries (every RECALL_STRIDE-th vec_id), compute the EXACT cosine
    top-RECALL_K (ground truth) and the sign-LSH bucketed
    top-RECALL_K, and report per-query overlap
    ``recall = |ANN ∩ exact| / |exact|``. Both rankings use the
    guarded cosine (zero vectors score -1.0, never NaN) with the
    registry tie-break (candidate id), so every rank — and therefore
    every recall number — is oracle-replayed exactly; this is the
    declarative form of the pytest recall bounds the rows-only ANN
    variants (q_knn_ivf, q_search_rrf_indexed) are held to.

    Scale shape: the ground-truth side is the harness's cost —
    Q × N guarded-cosine pairs with Q bounded by the panel stride
    (N/RECALL_STRIDE here; a fixed query file in production), ranked
    by a window PARTITIONED by query over its own candidates, never
    a global sort. The panel frame broadcasts (≤N/25 rows); the ANN
    side is bucket-bounded like every L9 query. At 100 TB you shrink
    the panel, not the corpus — ground truth over the full corpus is
    the defining expense of a recall benchmark, paid for Q queries
    only."""
    from pyspark.sql import Window

    from ..functions.vectors import cosine, dot, hyperplane_sig
    from ..tables import spread

    emb = load(spark, sf_dir, "embeddings")
    s = persist(
        spread(emb).select(
            "vec_id",
            "embedding",
            hyperplane_sig(F.col("embedding"), 6).alias("sig"),
        )
    )
    q = s.filter(F.col("vec_id") % RECALL_STRIDE == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("__qv"),
        F.col("sig").alias("qsig"),
    )
    c = s.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("__cv"),
        "sig",
    )
    gcos = F.when(
        (dot(F.col("__qv"), F.col("__qv")) > 0)
        & (dot(F.col("__cv"), F.col("__cv")) > 0),
        cosine(F.col("__cv"), F.col("__qv")),
    ).otherwise(F.lit(-1.0))
    w = Window.partitionBy("qid").orderBy(F.col("__gc").desc(), "cid")
    exact = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .withColumn("__gc", gcos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RECALL_K)
        .select("qid", "cid")
    )
    ann = (
        c.join(F.broadcast(q), c["sig"] == q["qsig"])
        .filter(F.col("cid") != F.col("qid"))
        .withColumn("__gc", gcos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= RECALL_K)
        # Rename BOTH key columns before the exact/ann join: the two
        # frames share lineage from the persisted `s`, and a join
        # condition on same-named lineage-shared columns leans on
        # Spark's self-join dataset-id disambiguation ("trivially
        # true equals" warning) — fragile across versions and
        # failAmbiguousSelfJoin settings (ADVICE_r10). Disjoint
        # names make the condition unambiguous by construction.
        .select(
            F.col("qid").alias("__aqid"), F.col("cid").alias("__acid")
        )
        .withColumn("__hit", F.lit(1))
    )
    joined = exact.join(
        ann,
        (F.col("qid") == F.col("__aqid"))
        & (F.col("cid") == F.col("__acid")),
        "left",
    ).select("qid", "cid", "__hit")
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("__hit").alias("n_hit"),
        F.round(
            F.count("__hit").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("recall"),
    )


def _pipeline_guarded_oracle() -> str:
    from ..functions.text import PII_PATTERNS

    pii_zero = " + ".join(
        f"len(regexp_extract_all(d.text, '{p}'))"
        for p in PII_PATTERNS.values()
    )
    return f"""
    WITH {_duck_shingle_hashes()},
    bench AS (
      SELECT DISTINCT s AS sh
      FROM sha, unnest(sh_arr) AS t(s)
      WHERE doc_id % 50 = 0
    ),
    ex AS (SELECT doc_id, s AS sh FROM sha, unnest(sh_arr) AS t(s)),
    hits AS (
      SELECT ex.doc_id, count(*) AS n_hits
      FROM ex JOIN bench USING (sh)
      GROUP BY ex.doc_id
    ),
    contaminated AS (
      SELECT sha.doc_id
      FROM sha LEFT JOIN hits USING (doc_id)
      WHERE coalesce(hits.n_hits, 0)::DOUBLE / len(sh_arr) >= 0.5
    ),
    keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents
      GROUP BY lower(trim(regexp_replace(text,
               '[ \t\n\r\f\x0B]+', ' ', 'g'), ' '))
    ),
    rep AS (
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
             max(cnt)::DOUBLE / sum(cnt) AS mfr
      FROM (
        SELECT doc_id, wd, count(*) AS cnt
        FROM (SELECT doc_id, unnest({_DUCK_WORDS}) AS wd FROM documents)
        GROUP BY doc_id, wd
      ) GROUP BY doc_id
    )
    SELECT d.lang, count(*) AS n_docs,
           CAST(sum(rep.n_words) AS BIGINT) AS total_tokens
    FROM documents d
    JOIN keepers USING (doc_id)
    JOIN rep USING (doc_id)
    WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      AND rep.mfr <= 0.2
      AND {pii_zero} = 0
    GROUP BY d.lang
    """


@query("q_pipeline_guarded", oracle=_pipeline_guarded_oracle())
def q_pipeline_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hygiene-tier composition in ONE declarative plan: benchmark
    contamination gate (anti-join on flagged ids) → exact-dedup keeper
    semi-join → repetition-quality gate → PII-free gate → per-language
    corpus stats. Every stage reuses an independently-oracled operator
    (q_contamination / q_dedup_exact / q_quality_repetition /
    q_pii_scrub); composing them lazily lets Catalyst plan the gates
    as joins over 8-16-byte keys — document text is read once and
    never shuffled.
    """
    from ..functions.dedup import contamination_report, exact_dedup_keepers
    from ..functions.text import pii_counts, repetition_profile

    docs = load(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    contaminated = (
        contamination_report(docs, bench, threshold=0.5)
        .filter(F.col("contaminated") == 1)
        .select(F.col("id").alias("doc_id"))
    )
    keepers = exact_dedup_keepers(docs).select(
        F.col("keeper_id").alias("doc_id")
    )
    rep = repetition_profile(docs).select(
        F.col("id").alias("doc_id"), "n_words", "max_freq_ratio"
    )
    counts = pii_counts(F.col("text"))
    pii_total = counts["email"] + counts["phone"] + counts["ipv4"]
    return (
        docs.filter(pii_total == 0)
        .join(keepers, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
        .join(rep, "doc_id")
        .filter(F.col("max_freq_ratio") <= 0.2)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_tokens"),
        )
    )


def _hyperplane_probed_oracle(n_bits: int = 6) -> str:
    from ..functions.vectors import HYPER_MOD, HYPER_P1, HYPER_P2

    def dotj(j: int) -> str:
        plane = (
            f"((({j}*{HYPER_P1} + (i-1)*{HYPER_P2} + 1) % {HYPER_MOD})"
            f"::DOUBLE / {HYPER_MOD} - 0.5)"
        )
        return (
            f"list_reduce(list_transform(range(1, len(v)+1), "
            f"i -> v[i] * {plane}), (a, b) -> a + b)"
        )

    sig = " + ".join(
        f"(CASE WHEN {dotj(j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_bits)
    )
    return f"""
    WITH e AS (SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings),
    s AS (SELECT vec_id, v, CAST({sig} AS INTEGER) AS sig FROM e),
    q AS (
      SELECT v AS qv, sig AS qsig FROM s
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    ),
    c AS (
      SELECT vec_id, v, sig FROM s
      WHERE vec_id != (SELECT min(vec_id) FROM embeddings)
    )
    SELECT vec_id, round({_duck_cosine("v", "qv")}, 6) AS score
    FROM c, q WHERE bit_count(xor(c.sig, q.qsig)) <= 1
    ORDER BY score DESC, vec_id
    LIMIT 10
    """


@query("q_knn_hyperplane_probed", oracle=_hyperplane_probed_oracle())
def q_knn_hyperplane_probed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN with Hamming-1 multiprobe: exact-bucket plus every
    one-bit-neighbor bucket (n_bits+1 probes exploded from the 1-row
    query side — the corpus join key stays single-bucket). The probe
    set {sig} ∪ {sig⊕2^j} is exactly bit_count(xor) ≤ 1, which is how
    the oracle states it. Recall strictly dominates q_knn_hyperplane
    at a bounded constant candidate cost."""
    from ..functions.vectors import hyperplane_topk_probed

    emb = load(spark, sf_dir, "embeddings")
    qvec, corpus = min_id_query_split(emb)
    return hyperplane_topk_probed(corpus, qvec, k=10, n_bits=6)


# ======================================================================
# L13/L14: dataset mixing + sequence packing
# ======================================================================
#: Per-language mixture weights for the dataset-mix query (keep
#: probability per stratum). q_sample_stratified (events table,
#: advanced_queries) pins the aggregate form of hash sampling; this
#: one is the corpus-mixing form — doc-level output, literal weights.
MIX_RATES = {"en": 0.5, "de": 0.25, "fr": 0.25, "es": 0.1, "zh": 0.1}
MIX_SEED = "v1"
PACK_BUDGET_TOKENS = 256


def _mix_bucket_sql() -> str:
    """The content-keyed md5 sampling bucket, shared verbatim by the
    mixing oracle and the composed-selection oracle."""
    from ..functions.sampling import SAMPLE_MOD

    return (
        f"((('0x' || substr(md5('{MIX_SEED}:' || CAST(doc_id AS VARCHAR)),"
        f" 1, 15))::BIGINT % {T.HASH_MOD}) % {SAMPLE_MOD})"
    )


def _mix_case_sql() -> str:
    from ..functions.sampling import SAMPLE_MOD

    case = " ".join(
        f"WHEN '{s}' THEN {int(round(r * SAMPLE_MOD))}"
        for s, r in MIX_RATES.items()
    )
    return f"CASE lang {case} ELSE 0 END"


def _dataset_mix_oracle() -> str:
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE {_mix_bucket_sql()} < {_mix_case_sql()}
    """


@query("q_dataset_mix", oracle=_dataset_mix_oracle())
def q_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset mixing by per-language mixture weights: keep a doc iff
    its seed-prefixed md5 bucket falls under its language's rate.
    Content-keyed (never ``rand()``), so retries, re-partitioning, and
    the DuckDB oracle all make identical keep decisions; one codegen'd
    filter, no shuffle. Doc-level output — the oracle checks every
    individual keep decision, not just per-stratum counts."""
    from ..functions.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    return stratified_sample(
        docs, MIX_RATES, seed=MIX_SEED
    ).select("doc_id", "lang")


# ======================================================================
# L13': temperature-based mixture sampling (n^alpha source equalizing)
# ======================================================================
#: Mixing temperature alpha = 0.5 (sqrt): the GPT-3/T5 recipe — a
#: stratum's sampling mass ∝ n^alpha, so alpha < 1 upweights small
#: strata relative to proportional sampling without ever exceeding
#: rate 1. sqrt is IEEE-correctly-rounded in both engines, which is
#: why 0.5 (and not an arbitrary alpha needing pow()) is the pinned
#: exact-replay choice.
TEMP_MIX_SEED = "tmix1"


def _dataset_mix_temp_oracle() -> str:
    from ..functions.sampling import SAMPLE_MOD

    bucket = (
        f"((('0x' || substr(md5('{TEMP_MIX_SEED}:' || CAST(doc_id AS"
        f" VARCHAR)), 1, 15))::BIGINT % {T.HASH_MOD}) % {SAMPLE_MOD})"
    )
    return f"""
    WITH cnt AS (
      SELECT lang, count(*) AS n FROM documents GROUP BY lang
    ),
    wq AS (
      SELECT lang, n,
             CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000000.0) AS BIGINT)
               AS w
      FROM cnt
    ),
    tot AS (
      SELECT CAST(sum(w) AS BIGINT) AS tw, CAST(sum(n) AS BIGINT) AS tn
      FROM wq
    ),
    rates AS (
      SELECT lang, n,
             least(CAST({SAMPLE_MOD} AS BIGINT),
               CAST(floor({SAMPLE_MOD}.0
                 * CAST((SELECT tn FROM tot) // 2 AS DOUBLE)
                 * CAST(w AS DOUBLE)
                 / CAST(n AS DOUBLE)
                 / CAST((SELECT tw FROM tot) AS DOUBLE)) AS BIGINT))
               AS r
      FROM wq
    )
    SELECT d.lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN {bucket} < rates.r THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(max(rates.r) AS BIGINT) AS rate_micro
    FROM documents d JOIN rates USING (lang)
    GROUP BY d.lang
    """


@query("q_dataset_mix_temp", oracle=_dataset_mix_temp_oracle())
def q_dataset_mix_temp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (alpha=0.5, the GPT-3/T5
    n^alpha recipe): each language's keep rate is derived IN-PLAN
    from its own size so that kept mass ∝ sqrt(n) — small languages
    are upweighted relative to proportional sampling, the standard
    multilingual-mixture correction — with the total budget pinned at
    half the corpus. Where q_dataset_mix takes externally-fixed
    rates, this derives them from the data: rate_micro(lang) =
    min(SAMPLE_MOD, floor(SAMPLE_MOD · (N//2) · w / n / W)) with
    w = floor(sqrt(n)·1e6) and W = Σw — integer inputs exact below
    2^53, then ONE fixed left-assoc chain of IEEE-correctly-rounded
    double mul/divs (overflow-free at ANY corpus size, unlike a pure
    BIGINT product which wraps past ~7e4 docs; both engines round
    identically), floor, and the same content-keyed md5 gate as every
    sampler in this engine.

    Plan: per-lang count aggregate -> 1-row totals -> k-row rate
    table broadcast back onto the corpus -> per-lang conditional
    aggregate. No driver collect, no shuffle beyond the two
    aggregates, no Python; the keep decision is replayed per-doc by
    the oracle (the counts only summarize it). The rate derivation
    lives in functions/sampling.py::temperature_rates (r9: shared
    with the corpus_prep mixing stage, VERDICT_r8 #6)."""
    from ..functions.sampling import keep_bucket, temperature_rates

    docs = load(spark, sf_dir, "documents")
    rates = temperature_rates(docs)
    return (
        docs.join(F.broadcast(rates), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (
                    keep_bucket(F.col("doc_id"), TEMP_MIX_SEED)
                    < F.col("r")
                ).cast("long")
            ).alias("n_kept"),
            F.max("r").alias("rate_micro"),
        )
    )


SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
SPLIT_SEED = "split1"


def _corpus_split_oracle() -> str:
    from ..functions.sampling import SAMPLE_MOD

    bucket = (
        f"((('0x' || substr(md5('{SPLIT_SEED}:' || CAST(doc_id AS"
        f" VARCHAR)), 1, 15))::BIGINT % {T.HASH_MOD}) % {SAMPLE_MOD})"
    )
    t1 = int(round(SPLIT_FRACTIONS["train"] * SAMPLE_MOD))
    t2 = t1 + int(round(SPLIT_FRACTIONS["val"] * SAMPLE_MOD))
    return f"""
    SELECT doc_id, lang,
           CASE WHEN {bucket} < {t1} THEN 'train'
                WHEN {bucket} < {t2} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """


@query("q_corpus_split", oracle=_corpus_split_oracle())
def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free train/val/test split (80/10/10): a PARTITION of
    the corpus by consecutive bucket ranges of one content-keyed md5 —
    disjoint and exhaustive by construction, and membership is a pure
    function of (seed, doc_id), so reruns, repartitions, engine swaps,
    and corpus APPENDS can never move a doc from test into train (the
    contamination guarantee random splitters give up; the mixing gate
    L13 samples, this partitions). Doc-level output: the oracle checks
    every individual assignment. One codegen projection, no shuffle."""
    from ..functions.sampling import corpus_split

    return corpus_split(
        load(spark, sf_dir, "documents"), SPLIT_FRACTIONS, seed=SPLIT_SEED
    ).select("doc_id", "lang", "split")


# ======================================================================
# L22': cross-split leakage audit (shingle tier, r12)
# ======================================================================
#: Overlap fraction at or above which an eval doc counts as leaked
#: from train (the q_contamination threshold pointed at the split).
SPLIT_LEAK_THRESHOLD = 0.5


def _duck_split_case(col: str) -> str:
    """The split-membership CASE for an arbitrary id column — the SQL
    twin of ``sampling.split_label``, shared by every oracle that
    labels ids (assignment, doc-level audit, pair-level audit) so the
    arithmetic can never drift between them."""
    from ..functions.sampling import SAMPLE_MOD

    bucket = (
        f"((('0x' || substr(md5('{SPLIT_SEED}:' || CAST({col} AS"
        f" VARCHAR)), 1, 15))::BIGINT % {T.HASH_MOD}) % {SAMPLE_MOD})"
    )
    t1 = int(round(SPLIT_FRACTIONS["train"] * SAMPLE_MOD))
    t2 = t1 + int(round(SPLIT_FRACTIONS["val"] * SAMPLE_MOD))
    return (
        f"CASE WHEN {bucket} < {t1} THEN 'train'"
        f" WHEN {bucket} < {t2} THEN 'val'"
        f" ELSE 'test' END"
    )


def _split_leakage_oracle() -> str:
    return f"""
    WITH {_duck_shingle_hashes()},
    sp AS (
      SELECT doc_id, {_duck_split_case("doc_id")} AS split
      FROM documents
    ),
    train_sh AS (
      SELECT DISTINCT s AS sh
      FROM sha JOIN sp USING (doc_id), unnest(sh_arr) AS t(s)
      WHERE sp.split = 'train'
    ),
    ev AS (
      SELECT sha.doc_id, sp.split, sha.sh_arr
      FROM sha JOIN sp USING (doc_id) WHERE sp.split != 'train'
    ),
    ex AS (SELECT doc_id, s AS sh FROM ev, unnest(sh_arr) AS t(s)),
    hits AS (
      SELECT ex.doc_id, count(*) AS n_hits
      FROM ex JOIN train_sh USING (sh)
      GROUP BY ex.doc_id
    )
    SELECT ev.doc_id, ev.split,
           CAST(len(ev.sh_arr) AS BIGINT) AS n_sh,
           coalesce(hits.n_hits, 0) AS n_hits,
           round(coalesce(hits.n_hits, 0)::DOUBLE / len(ev.sh_arr), 6)
             AS overlap,
           CAST(coalesce(hits.n_hits, 0)::DOUBLE / len(ev.sh_arr)
                >= {SPLIT_LEAK_THRESHOLD} AS INTEGER) AS leaked
    FROM ev LEFT JOIN hits USING (doc_id)
    """


@query("q_split_leakage", oracle=_split_leakage_oracle())
def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SPLIT LEAKAGE AUDIT (r12) — the check q_corpus_split
    cannot make on its own: the split is keyed by doc_id (append-
    stable by design), so a near-duplicate of a training document
    can land in val/test — exactly the train→eval leakage that
    inflates held-out metrics (no exact-text tier exists to catch
    it: the corpus's planted duplicates are NEAR duplicates, never
    byte-identical). Every val/test doc is scored by its word-3-gram
    shingle overlap against the union of TRAIN shingles — the
    q_contamination machinery with the benchmark slice replaced by
    the split's own eval side — and flagged ``leaked`` at ≥ 0.5
    overlap. The released-eval-set hygiene report: one row per eval
    doc, its split recomputed in-plan (membership is a pure function
    of (seed, doc_id) — no join back to the assignment).

    Scale shape: both sides reduce to int64 shingle hashes on the
    SHARED persisted arrays (the dedup-tier machinery); the train
    shingle set collapses to DISTINCT hashes and the eval side
    semi-joins against it — at 100 TB the eval split is the small
    side by construction (10-20% of the corpus), and the join
    carries (id, sh) int64 rows only, never text."""
    from ..functions.dedup import contamination_report
    from ..functions.sampling import corpus_split

    docs = corpus_split(
        load(spark, sf_dir, "documents"), SPLIT_FRACTIONS, seed=SPLIT_SEED
    )
    train = docs.filter(F.col("split") == "train")
    evald = docs.filter(F.col("split") != "train")
    rep = contamination_report(
        evald, train, threshold=SPLIT_LEAK_THRESHOLD
    )
    # split membership is a pure function of (seed, id) — recompute
    # it on the report rows instead of joining the assignment back
    rep = corpus_split(
        rep, SPLIT_FRACTIONS, key_col="id", seed=SPLIT_SEED
    )
    return rep.select(
        F.col("id").alias("doc_id"),
        "split",
        F.col("n_sh").cast("bigint").alias("n_sh"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        "overlap",
        F.col("contaminated").alias("leaked"),
    )


def _split_leakage_pairs_oracle() -> str:
    return f"""
    SELECT id_a, id_b,
           {_duck_split_case("id_a")} AS split_a,
           {_duck_split_case("id_b")} AS split_b,
           jaccard
    FROM ({_lsh_verified_oracle(0.5)}) v
    WHERE {_duck_split_case("id_a")} != {_duck_split_case("id_b")}
    """


@query("q_split_leakage_pairs", oracle=_split_leakage_pairs_oracle())
def q_split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SPLIT LEAKAGE, PAIR LEVEL (r12) — the escalation the
    doc-level audit's docstring promises: q_split_leakage tells you
    WHICH eval docs carry train shingle mass; this names the actual
    (train, eval) near-duplicate PAIRS — the rows a release engineer
    deletes — by running the canonical 100 TB near-dup pipeline
    (MinHash-LSH candidates → exact Jaccard ≥ 0.5, the verbatim
    q_dedup_lsh_verified machinery) and keeping the verified pairs
    whose endpoints straddle splits. Both split labels are the PURE
    per-id expression (sampling.split_label / _duck_split_case, the
    single definition all three split oracles share) — a codegen
    projection on the ≤pairs-row verified table, never a join back
    to the corpus.

    Scale shape: identical to q_dedup_lsh_verified (banded candidate
    generation, never all-pairs; the verified table is edges-sized —
    256 rows on the sf0.1 corpus) plus one constant-cost projection
    and filter. No new shuffle, no Python, no window."""
    from ..functions.dedup import lsh_verified_pairs
    from ..functions.sampling import split_label

    pairs = lsh_verified_pairs(
        load(spark, sf_dir, "documents"), threshold=0.5
    )
    sa = split_label(F.col("id_a"), SPLIT_FRACTIONS, SPLIT_SEED)
    sb = split_label(F.col("id_b"), SPLIT_FRACTIONS, SPLIT_SEED)
    return (
        pairs.select(
            "id_a",
            "id_b",
            sa.alias("split_a"),
            sb.alias("split_b"),
            "jaccard",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )


# ======================================================================
# L13'': deterministic exact-K uniform sample (r12)
# ======================================================================
#: Sample size and seed for the exact-K corpus sample.
SAMPLE_EXACT_K = 64
SAMPLE_EXACT_SEED = "exactk1"


def _sample_exact_k_oracle() -> str:
    from ..functions.sampling import SAMPLE_MOD

    skey = (
        f"((('0x' || substr(md5('{SAMPLE_EXACT_SEED}:' ||"
        f" CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT"
        f" % {T.HASH_MOD}) % {SAMPLE_MOD})"
    )
    return f"""
    SELECT doc_id, lang, CAST({skey} AS BIGINT) AS skey
    FROM documents
    ORDER BY skey, doc_id
    LIMIT {SAMPLE_EXACT_K}
    """


@query("q_sample_exact_k", oracle=_sample_exact_k_oracle())
def q_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-K uniform sample (r12) — the reservoir-sampling
    deliverable ("give me exactly K documents, uniformly, and the
    same K every rerun") as a deterministic top-K: every doc gets the
    engine-wide seeded 60-bit md5 bucket (the q_sample / q_corpus_
    split keying) and the K smallest keys win, ties broken by id.
    Content-keyed ⇒ rerun-, partitioning-, and engine-stable, and
    APPEND-MONOTONE in the useful sense: a new doc displaces at most
    one old pick. Complements the rate-based q_sample (expected-size)
    and the per-stratum q_sample_stratified — this is the exact-size
    global form.

    Scale shape: ONE TakeOrderedAndProject heap (per-partition top-K
    then a K-row driver merge — no global sort, no shuffle of the
    corpus, the W2 pagination machinery pointed at sampling). At
    100 TB it reads doc_id+lang only (column pruning; the key is
    computed, not stored)."""
    from ..functions.sampling import keep_bucket

    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "lang",
            keep_bucket(F.col("doc_id"), SAMPLE_EXACT_SEED)
            .cast("bigint")
            .alias("skey"),
        )
        .orderBy("skey", "doc_id")
        .limit(SAMPLE_EXACT_K)
    )


# ======================================================================
# L24': token-length histogram (pack-budget diagnostic, r12)
# ======================================================================


@query(
    "q_len_histogram",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             CAST(length(bin(greatest(
               CAST(len({_DUCK_WORDS}) AS BIGINT), 1))) AS BIGINT) - 1
               AS len_bucket,
             CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT lang, len_bucket,
             count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
      FROM t GROUP BY lang, len_bucket
    )
    SELECT lang, len_bucket,
           CAST(2 ** len_bucket AS BIGINT) AS lo_tokens,
           n_docs, bucket_tokens,
           round(CAST(bucket_tokens AS DOUBLE)
                 / sum(bucket_tokens) OVER (PARTITION BY lang), 6)
             AS lang_token_share
    FROM c
    """,
)
def q_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-LENGTH HISTOGRAM (r12) — the pack-budget diagnostic that
    decides max_seq_len before anyone runs q_pack_*: per (lang,
    power-of-two length bucket), document count, total token mass,
    and each bucket's share of its language's tokens. The one-glance
    answer to "what fraction of ja's tokens live in docs shorter
    than 256 words" — choose a budget that strands 40% of the corpus
    in over-length docs and the packer chunks (or drops) it.

    Cross-engine determinism: the log2 bucket is INTEGER arithmetic —
    ``length(bin(n)) - 1`` (bit length minus one ≡ floor(log2 n)) —
    because float log2 of an exact power of two is libm-dependent;
    zero-token docs clamp into bucket 0 via greatest(n, 1). Shares
    divide exact BIGINTs, rounded to 6.

    Scale shape: one tokenize-and-measure projection, ONE map-side-
    combined hash aggregate to ≤ langs × ~20 cells, and the share
    window runs on the CELL table (tiny-prefix territory). The raw
    token stream never shuffles."""
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(T.words(F.col("text"))).cast("bigint")
    t = docs.select(
        "lang",
        (
            F.length(F.bin(F.greatest(n_tok, F.lit(1)))).cast("bigint")
            - 1
        ).alias("len_bucket"),
        n_tok.alias("n_tokens"),
    )
    c = t.groupBy("lang", "len_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bucket_tokens"),
    )
    w = Window.partitionBy("lang")
    return c.select(
        "lang",
        "len_bucket",
        F.pow(F.lit(2.0), F.col("len_bucket"))
        .cast("bigint")
        .alias("lo_tokens"),
        "n_docs",
        "bucket_tokens",
        F.round(
            F.col("bucket_tokens").cast("double")
            / F.sum("bucket_tokens").over(w),
            6,
        ).alias("lang_token_share"),
    )


# ======================================================================
# L42: token-mass systematic sampling (weighted ∝ tokens, exact)
# ======================================================================
#: Target picks per language for the systematic sample.
SAMPLE_SYS_K = 16


def _sample_tokens_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT lang, doc_id, CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
      FROM documents
    ), tt AS (
      SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tot
      FROM t GROUP BY lang
    ), st AS (
      SELECT lang, greatest(1, tot // {SAMPLE_SYS_K}) AS stride FROM tt
    ), c AS (
      SELECT t.lang, doc_id, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY t.lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    )
    SELECT c.lang, c.doc_id, c.n_tokens,
           CAST(c.cum - c.n_tokens AS BIGINT) AS tok_start
    FROM c JOIN st USING (lang)
    WHERE c.n_tokens > 0
      AND (greatest(c.cum, 1) - 1) // st.stride
          >= (c.cum - c.n_tokens + st.stride - 1) // st.stride
    """


@query("q_sample_tokens", oracle=_sample_tokens_oracle())
def q_sample_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-MASS systematic sampling — a weighted-without-replacement
    sample where a doc's inclusion probability is proportional to its
    TOKEN COUNT (how you subsample a corpus per token budget, not per
    doc count): lay each language's docs on its token number line
    (the L14 cum-sum), divide by stride = max(1, total_tokens //
    SAMPLE_SYS_K), and pick every doc whose span covers a stride
    multiple. ALL-INTEGER arithmetic (the span test is two exact
    floor divisions of non-negative BIGINTs — Spark ``div`` ==
    DuckDB ``//`` there), so unlike an A-ES exponential-key sampler
    there is no ``ln``/``pow`` whose last-ulp ordering could diverge
    between engines: the oracle replays every pick decision exactly.
    Deterministic under reruns/repartitions by construction (the
    order is the doc_id number line — compose with the L25 seed-keyed
    shuffle upstream for a randomized line).

    Scale shape: one per-stratum cum-sum window (the exact
    q_pack_sequences posture — per-language sequential by the
    semantics of a number line), a k-row broadcast stride table, and
    a codegen filter; no Python, no global sort. Empty languages
    pick nothing; zero-token docs are never picked (guarded before
    the span test, never a negative dividend)."""
    from pyspark.sql import Window

    from ..functions.text import words

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    st = (
        t.groupBy("lang")
        .agg(F.sum("n_tokens").alias("tot"))
        .select(
            "lang",
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"tot div {SAMPLE_SYS_K}"),
            ).alias("stride"),
        )
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        c.join(F.broadcast(st), "lang")
        .filter(
            (F.col("n_tokens") > 0)
            & (
                F.expr("(greatest(cum, 1) - 1) div stride")
                >= F.expr("(cum - n_tokens + stride - 1) div stride")
            )
        )
        .select(
            "lang",
            "doc_id",
            "n_tokens",
            (F.col("cum") - F.col("n_tokens")).alias("tok_start"),
        )
    )


# ======================================================================
# L42': weighted priority sampling (Efraimidis–Spirakis, exact-integer)
# ======================================================================
#: Sample size for the weighted-priority sample.
SAMPLE_ES_K = 100
#: Seed for the priority draws — changing it redraws the sample.
ES_SEED = "es0"
#: Weight clamp: a doc contributes at most this many draws (the
#: winsorized-weights convention — sampling ∝ min(tokens, cap) bounds
#: the per-row draw array like winsorized() bounds a coordinate).
ES_WEIGHT_CAP = 4096


def _sample_weighted_oracle() -> str:
    draw = (
        f"('0x' || substr(md5('{ES_SEED}:' || CAST(doc_id AS VARCHAR)"
        f" || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT"
        f" % {T.HASH_MOD}"
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    k AS (
      SELECT doc_id, n_tokens,
             list_max(list_transform(
               range(1, CAST(least(n_tokens, {ES_WEIGHT_CAP}) AS BIGINT)
                        + 1),
               i -> {draw})) AS skey
      FROM t WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, skey
    FROM k
    ORDER BY skey DESC, doc_id
    LIMIT {SAMPLE_ES_K}
    """


@query("q_sample_weighted", oracle=_sample_weighted_oracle())
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PRIORITY SAMPLING without replacement (r10) — the
    Efraimidis–Spirakis sampler (key = u^(1/w), keep the top-k keys)
    realized in EXACT INTEGER arithmetic via the max-of-w-uniforms
    identity: u^(1/w) is distributed as max(u_1..u_w), so each doc's
    key is the MAX of w = min(n_tokens, ES_WEIGHT_CAP) seed-keyed
    integer hash draws — heavier docs take more draws and win more
    often, inclusion follows the ES weighted-without-replacement
    law, and the whole decision is integer compares (no ``ln``/
    ``pow`` whose last-ulp could diverge between engines — the same
    reason L42 is systematic; this is its randomized twin). Same
    seed + same corpus = the identical sample on any cluster layout,
    rerun, or engine; a new seed redraws.

    Scale shape: the draws are ONE codegen transform+array_max per
    row — total work O(Σ min(tokens, cap)), the cost of tokenizing
    the corpus once, with no shuffle at all until the top-k — and
    the pick is a TakeOrderedAndProject heap (k rows to the driver,
    never a global sort). Zero-token docs can't draw and are
    excluded identically in both engines."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(T.words(F.col("text"))).cast("long").alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    draws = F.transform(
        F.sequence(
            F.lit(1).cast("long"),
            F.least(F.col("n_tokens"), F.lit(ES_WEIGHT_CAP).cast("long")),
        ),
        lambda i: T.md5_hash(
            F.concat(
                F.lit(f"{ES_SEED}:"),
                F.col("doc_id").cast("string"),
                F.lit(":"),
                i.cast("string"),
            )
        ),
    )
    k = t.select(
        "doc_id", "n_tokens", F.array_max(draws).alias("skey")
    )
    return k.orderBy(F.desc("skey"), "doc_id").limit(SAMPLE_ES_K)


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id, CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT lang, doc_id, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    )
    SELECT lang,
           CAST(floor((cum - n_tokens)::DOUBLE / {PACK_BUDGET_TOKENS})
                AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM c
    GROUP BY lang, pack_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: per-language document
    stream cut every PACK_BUDGET_TOKENS tokens; a doc's pack is where
    its first token lands. Windows run per language partition (at
    100 TB: per shard) so packing never funnels the corpus through a
    single global sort."""
    from ..functions.sampling import pack_sequences

    packed = pack_sequences(
        load(spark, sf_dir, "documents"), PACK_BUDGET_TOKENS
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


# ======================================================================
# L14''': packing efficiency (fill/overflow summary, r12)
# ======================================================================
@query(
    "q_pack_efficiency",
    oracle=f"""
    WITH t AS (
      SELECT lang, doc_id, CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
      FROM documents
    ), c AS (
      SELECT lang, doc_id, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    ), p AS (
      SELECT lang,
             CAST(floor((cum - n_tokens)::DOUBLE / {PACK_BUDGET_TOKENS})
                  AS BIGINT) AS pack_id,
             CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
      FROM c
      GROUP BY lang, pack_id
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_packs,
           CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(pack_tokens) AS DOUBLE)
                 / (count(*) * {PACK_BUDGET_TOKENS}), 6) AS mean_fill,
           CAST(sum((pack_tokens > {PACK_BUDGET_TOKENS})::INT)
                AS BIGINT) AS overflow_packs,
           CAST(sum((pack_tokens < {PACK_BUDGET_TOKENS})::INT)
                AS BIGINT) AS underfull_packs
    FROM p GROUP BY lang
    """,
)
def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKING EFFICIENCY (r12) — the eval metric for the packing
    tier, the way fertility/coverage evaluate the tokenizer: per
    language, how full the training packs actually are. Mean fill is
    total tokens over packs × budget; overflow packs carry a
    boundary-straddling doc's full count (the L14 first-token-lands
    convention — downstream the straddle is truncation or carry-over
    work), underfull packs are padding waste at train time. A
    language whose mean_fill sits far from 1.0 has the wrong budget
    or the wrong chunking upstream (q_pack_chunked is the
    exactly-B alternative; q_len_histogram chooses the budget).

    Exact BIGINT counts over the SAME pack cells as q_pack_sequences
    (the oracle extends that query's CTE verbatim — the two can
    never disagree about what a pack holds); one rounded division.

    Scale shape: q_pack_sequences' per-stratum cum-sum window, one
    cell aggregate, then a ≤langs-row summary aggregate over the
    CELLS. Nothing new moves."""
    from ..functions.sampling import pack_sequences

    packed = pack_sequences(
        load(spark, sf_dir, "documents"), PACK_BUDGET_TOKENS
    )
    cells = packed.groupBy("lang", "pack_id").agg(
        F.sum("n_tokens").cast("bigint").alias("pack_tokens")
    )
    b = F.lit(PACK_BUDGET_TOKENS)
    return cells.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_packs"),
        F.sum("pack_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("pack_tokens").cast("double")
            / (F.count(F.lit(1)) * b),
            6,
        ).alias("mean_fill"),
        F.sum((F.col("pack_tokens") > b).cast("int"))
        .cast("bigint")
        .alias("overflow_packs"),
        F.sum((F.col("pack_tokens") < b).cast("int"))
        .cast("bigint")
        .alias("underfull_packs"),
    )


# ======================================================================
# L15: scalar-quantized vector codes + ADC ANN (compression family)
# ======================================================================
def _sq_stats_cte() -> str:
    """CTE ``st(lo, hi)``: global value range over every dimension —
    the same two scalars vectors.sq_range collects driver-side."""
    return (
        "st AS (SELECT min(x) AS lo, max(x) AS hi"
        " FROM (SELECT unnest(v) AS x FROM e))"
    )


def _sq_code_sql(xexpr: str) -> str:
    from ..functions.vectors import SQ_LEVELS

    raw = f"floor((({xexpr} - st.lo) / (st.hi - st.lo)) * {float(SQ_LEVELS)})"
    return f"CAST(least(greatest({raw}, 0), {SQ_LEVELS - 1}) AS INTEGER)"


@query(
    "q_vector_sq",
    oracle=f"""
    WITH e AS (SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings),
    {_sq_stats_cte()}
    SELECT vec_id,
           array_to_string(
             list_transform(v, x -> {_sq_code_sql("x")}), ',') AS codes
    FROM e, st
    """,
)
def q_vector_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized vector codes: every dimension maps to a 4-bit
    uniform grid over the corpus's global value range — 8× smaller
    than float32, the compressed form a corpus-scale ANN index stores.
    The grid is an order statistic of the data (two driver scalars,
    the BM25-N/avgdl pattern), so unlike trained quantizers every
    code is replayed exactly by the oracle. The code vector is
    projected as a comma-joined string because the verify driver's
    canonicalizer hashes scalar cells (it cannot factorize ndarray
    cells — CORRECTNESS_r04 ``q_vector_sq`` err); the raw array form
    stays covered by q_knn_sq, which consumes the codes."""
    from ..functions.vectors import sq_codes, sq_range

    emb = load(spark, sf_dir, "embeddings")
    lo, hi = sq_range(emb)
    return emb.select(
        "vec_id",
        F.array_join(
            sq_codes(F.col("embedding"), lo, hi).cast("array<string>"), ","
        ).alias("codes"),
    )


def _sq_adc_oracle() -> str:
    from ..functions.vectors import SQ_LEVELS

    deq = f"(st.lo + (cds[i] + 0.5) * ((st.hi - st.lo) / {float(SQ_LEVELS)}))"
    term = f"((qv[i] - {deq}) * (qv[i] - {deq}))"
    return f"""
    WITH e AS (SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings),
    {_sq_stats_cte()},
    q AS (
      SELECT v AS qv FROM e
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    ),
    c AS (
      SELECT vec_id, list_transform(v, x -> {_sq_code_sql("x")}) AS cds
      FROM e, st
      WHERE vec_id != (SELECT min(vec_id) FROM embeddings)
    )
    SELECT c.vec_id,
           round(list_reduce(
             list_transform(range(1, len(cds) + 1), i -> {term}),
             (a, b) -> a + b), 6) AS adc_dist
    FROM c, q, st
    ORDER BY adc_dist, vec_id
    LIMIT 10
    """


@query("q_knn_sq", oracle=_sq_adc_oracle())
def q_knn_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN via asymmetric distance computation: the corpus
    is read as 4-bit codes only; the exact (1-row, broadcast) query
    scores each doc as the sum of per-dimension distances to the
    dequantized grid values, then a TakeOrdered heap keeps the top-10.
    The compression-based third ANN family beside sign-LSH (hash) and
    IVF (partition); recall@10 = 8/10 vs exact L2 on the test corpus
    (asserted in tests), and the deterministic grid makes it
    oracle-checkable end-to-end where trained PQ is rows-only."""
    from ..functions.vectors import sq_adc_topk, sq_range

    emb = load(spark, sf_dir, "embeddings")
    lo, hi = sq_range(emb)
    qvec, corpus = min_id_query_split(emb)
    return sq_adc_topk(corpus, qvec, lo, hi, k=10)


# ======================================================================
# L16: cross-document boilerplate scrub (segment-level dedup)
# ======================================================================
#: Segment width (words) and the document-frequency floor above which
#: a segment counts as cross-document boilerplate. df>=2 is the
#: RefinedWeb-style rule: any segment shared verbatim by two documents
#: is template noise, not content (at sf0.01 this marks 153 of 3434
#: segments across 93 docs — a non-vacuous check by construction).
SEG_WORDS = 8
BOILER_MIN_DF = 2


def _boilerplate_oracle() -> str:
    return f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    sarr AS (
      SELECT doc_id,
             list_transform(
               range(0, CAST(ceil(len(ws) / {float(SEG_WORDS)}) AS BIGINT)),
               k -> array_to_string(
                 ws[CAST(k*{SEG_WORDS}+1 AS BIGINT):CAST(k*{SEG_WORDS}+{SEG_WORDS} AS BIGINT)], ' ')) AS segs
      FROM w WHERE len(ws) > 0
    ),
    seg AS (
      SELECT doc_id, generate_subscripts(segs, 1) - 1 AS seg_idx,
             unnest(segs) AS seg_text
      FROM sarr
    ),
    h AS (
      SELECT doc_id, seg_idx, seg_text,
             {_duck_word_hash("seg_text")} AS seg_hash
      FROM seg
    ),
    freq AS (
      SELECT seg_hash, TRUE AS boiler FROM h
      GROUP BY seg_hash HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DF}
    ),
    scrub AS (
      SELECT h.doc_id AS doc_id,
             count(*) AS n_segs,
             CAST(count(*) FILTER (coalesce(boiler, FALSE)) AS BIGINT)
               AS n_dropped,
             coalesce(string_agg(seg_text, ' ' ORDER BY seg_idx)
                        FILTER (NOT coalesce(boiler, FALSE)), '')
               AS clean_text
      FROM h LEFT JOIN freq USING (seg_hash)
      GROUP BY h.doc_id
    )
    SELECT d.doc_id AS doc_id,
           coalesce(n_segs, 0) AS n_segs,
           coalesce(n_dropped, 0) AS n_dropped,
           coalesce(clean_text, '') AS clean_text
    FROM documents d LEFT JOIN scrub ON d.doc_id = scrub.doc_id
    """


@query("q_boilerplate_scrub", oracle=_boilerplate_oracle())
def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal: the corpus line-dedup rule
    (RefinedWeb-style) restated over fixed 8-word segments, since this
    corpus carries no newlines. A segment appearing verbatim in >= 2
    distinct documents is template noise and is cut from every doc;
    the cleaned text is reassembled in segment order.

    Scale shape: segmentation is pure array arithmetic (no explode
    until the df count); the df aggregate and the boiler flag join run
    on 60-bit segment hashes, never strings, so the only text-sized
    shuffle is the final per-doc reassembly — and that one is keyed by
    doc_id, the table's natural partitioning. The plan scans the text
    twice (df branch + reassembly branch) by choice: the alternative
    persists a corpus-sized exploded segment table, and re-scanning
    columnar parquet is the cheaper side of that trade at 100 TB. The
    df branch prunes to (doc_id, seg_hash) before its shuffle
    (plan-audited), and the frequent-segment flag table (segments with
    df >= 2 only) broadcasts; AQE falls back to a shuffle join if a
    pathological corpus makes it large."""
    from ..tables import spread

    # single-row-group test parquet scans as ONE partition; widen so
    # the interpreted segment lambdas parallelize (1.92 s -> 0.99 s at
    # sf0.1; no-op at real scale)
    docs = spread(load(spark, sf_dir, "documents"))
    return T.boilerplate_scrub(docs, SEG_WORDS, BOILER_MIN_DF)


# ======================================================================
# L17: n-gram LM quality score (CCNet-style perplexity filter)
# ======================================================================
#: Additive smoothing for the bigram model. The CCNet recipe scores
#: documents by a language model's perplexity and drops the worst
#: tail; here the LM is a corpus-trained add-alpha bigram model, so
#: training and scoring are two aggregates plus one join and the
#: entire score is replayable in SQL.
LM_ALPHA = 0.5


def _lm_cte_sql() -> str:
    """Bigram-LM scoring CTE chain, to append after a ``w`` CTE that
    provides (doc_id, ws). Yields ``lm(doc_id, n_bigrams, avg_logp)``.
    Shared verbatim by the standalone LM oracle and the composed
    selection oracle so the two cannot drift."""
    return f"""
    bga AS (
      SELECT doc_id,
             list_transform(range(1, len(ws)), i -> [ws[i], ws[i+1]]) AS bgs
      FROM w WHERE len(ws) >= 2
    ),
    bg AS (
      SELECT doc_id, pair[1] AS w1, pair[2] AS w2
      FROM (SELECT doc_id, unnest(bgs) AS pair FROM bga)
    ),
    uni AS (SELECT w1 AS uw, count(*) AS c1 FROM bg GROUP BY w1),
    bi AS (
      SELECT w1 AS bw1, w2 AS bw2, count(*) AS c12 FROM bg GROUP BY w1, w2
    ),
    vstats AS (
      SELECT count(DISTINCT word) AS vsz
      FROM (SELECT unnest(ws) AS word FROM w)
    ),
    lmd AS (
      SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY doc_id, w1, w2
    ),
    lm AS (
      SELECT doc_id,
             CAST(sum(k) AS BIGINT) AS n_bigrams,
             round(sum(k * ln((c12 + {LM_ALPHA}) / (c1 + {LM_ALPHA} * vsz)))
                   / sum(k), 6) AS avg_logp
      FROM lmd JOIN bi ON w1 = bw1 AND w2 = bw2 JOIN uni ON w1 = uw, vstats
      GROUP BY doc_id
    )"""


def _quality_lm_oracle() -> str:
    return f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    {_lm_cte_sql()}
    SELECT doc_id, n_bigrams, avg_logp FROM lm
    """


@query("q_quality_lm", oracle=_quality_lm_oracle())
def q_quality_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document quality score: train add-alpha bigram /
    unigram counts on the corpus, score every document by its average
    per-bigram log-probability (the CCNet perplexity-filter shape —
    surprising documents score low and get dropped by a downstream
    threshold).

    Scale shape: counts are two hash aggregates over the bigram
    stream; scoring joins *distinct per-doc bigrams* (not the token
    stream) against the count tables, so a frequent bigram costs one
    join row per document, bounded by vocabulary, not corpus length.
    The vocabulary size V is a driver scalar (the BM25 N/avgdl
    pattern)."""
    return T.bigram_lm_scores(load(spark, sf_dir, "documents"), LM_ALPHA)


# ======================================================================
# L18: semantic dedup (SemDeDup-style, deterministic buckets)
# ======================================================================
def _semantic_dedup_oracle(n_bits: int = 6) -> str:
    from ..functions.vectors import (
        HYPER_MOD,
        HYPER_P1,
        HYPER_P2,
        SEMANTIC_THRESHOLD,
    )

    def dotj(j: int) -> str:
        plane = (
            f"((({j}*{HYPER_P1} + (i-1)*{HYPER_P2} + 1) % {HYPER_MOD})"
            f"::DOUBLE / {HYPER_MOD} - 0.5)"
        )
        return (
            f"list_reduce(list_transform(range(1, len(v)+1), "
            f"i -> v[i] * {plane}), (a, b) -> a + b)"
        )

    sig = " + ".join(
        f"(CASE WHEN {dotj(j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_bits)
    )
    return f"""
    WITH e AS (SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings),
    s AS (SELECT vec_id, v, CAST({sig} AS INTEGER) AS sig FROM e),
    red AS (
      SELECT DISTINCT b.vec_id AS vec_id, TRUE AS dup
      FROM s a JOIN s b ON a.sig = b.sig AND a.vec_id < b.vec_id
      WHERE {_duck_cosine("a.v", "b.v")} >= {SEMANTIC_THRESHOLD}
    )
    SELECT s.vec_id AS vec_id, sig, NOT coalesce(dup, FALSE) AS kept
    FROM s LEFT JOIN red ON s.vec_id = red.vec_id
    """


@query("q_dedup_semantic", oracle=_semantic_dedup_oracle())
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup): inside each embedding
    cluster, drop every vector that a smaller-id vector covers at
    cosine >= 0.3. The published recipe clusters with trained k-means;
    this variant uses the deterministic sign-LSH bucket as the cluster
    so *every* keep/drop decision is oracle-replayable — the same
    trade the ANN tier makes (IVF rows-only, hyperplane exact-checked).

    The 0.3 threshold sits >= 1.6e-5 from the nearest observed pair
    cosine at both test scale factors — far beyond cross-engine float
    noise, so the filter cannot flip between engines."""
    from ..functions.vectors import semantic_dedup
    from ..tables import spread

    return semantic_dedup(spread(load(spark, sf_dir, "embeddings")))


# ======================================================================
# L19: repeated-span detection (exact substring dedup)
# ======================================================================
def _repeated_spans_oracle() -> str:
    from ..functions.dedup import SPAN_K, SPAN_MAX_DF, SPAN_MIN_WORDS

    k = SPAN_K
    gram = f"array_to_string(ws[i:i+{k - 1}], ' ')"
    return f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    sh AS (
      SELECT doc_id, i - 1 AS pos, {_duck_word_hash(gram)} AS gh
      FROM (
        SELECT doc_id, ws, unnest(range(1, len(ws) - {k} + 2)) AS i
        FROM w WHERE len(ws) >= {k}
      )
    ),
    rare AS (
      SELECT gh FROM sh GROUP BY gh
      HAVING count(DISTINCT doc_id) <= {SPAN_MAX_DF}
    ),
    capped AS (SELECT sh.* FROM sh JOIN rare USING (gh)),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.pos AS pos_a, b.pos AS pos_b
      FROM capped a JOIN capped b
        ON a.gh = b.gh AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT id_a, id_b, pos_a, pos_b,
             pos_a - row_number() OVER (
               PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
             ) AS grp
      FROM m
    )
    SELECT id_a, id_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
           count(*) + {k} - 1 AS len_words
    FROM isl GROUP BY id_a, id_b, pos_a - pos_b, grp
    HAVING count(*) + {k} - 1 >= {SPAN_MIN_WORDS}
    """


@query("q_repeated_spans", oracle=_repeated_spans_oracle())
def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated word spans (>= 8 words) across document
    pairs: the substring-level exact dedup of Lee et al.'s
    suffix-array recipe, restated as positional-shingle equi-join +
    diagonal islands merge so every reported span is replayed exactly
    by the oracle. Downstream, spans are what you cut (unlike doc
    dedup, which drops whole documents)."""
    from ..functions.dedup import repeated_spans
    from ..tables import spread

    return repeated_spans(spread(load(spark, sf_dir, "documents")))


# ======================================================================
# L20: importance weighting for data selection (DSIR shape)
# ======================================================================
#: Target domain for importance weighting (a source acting as the
#: curated corpus) and the smoothing constant shared by both models.
DSIR_TARGET_SOURCE = "src0"
DSIR_ALPHA = 0.5


def _dsir_cte_sql() -> str:
    """DSIR scoring CTE chain, to append after a ``w`` CTE providing
    (doc_id, source, ws). Yields ``iw(doc_id, n_tokens, logw)``.
    Shared verbatim by the standalone importance oracle and the
    composed selection oracle so the two cannot drift."""
    return f"""
    tok AS (SELECT doc_id, source, unnest(ws) AS word FROM w),
    tgt AS (
      SELECT word AS tw, count(*) AS ct FROM tok
      WHERE source = '{DSIR_TARGET_SOURCE}' GROUP BY word
    ),
    raw AS (SELECT word AS rw, count(*) AS cr FROM tok GROUP BY word),
    sc AS (
      SELECT
        (SELECT count(*) FROM tok
         WHERE source = '{DSIR_TARGET_SOURCE}') AS nt,
        (SELECT count(*) FROM tok) AS nr,
        (SELECT count(DISTINCT word) FROM tok) AS v2
    ),
    dsd AS (
      SELECT doc_id, word, count(*) AS k FROM tok GROUP BY doc_id, word
    ),
    iw AS (
      SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
             round(sum(k * (
               ln((coalesce(ct, 0) + {DSIR_ALPHA}) / (nt + {DSIR_ALPHA}*v2))
               - ln((cr + {DSIR_ALPHA}) / (nr + {DSIR_ALPHA}*v2))
             )) / sum(k), 6) AS logw
      FROM dsd LEFT JOIN tgt ON word = tw JOIN raw ON word = rw, sc
      GROUP BY doc_id
    )"""


def _importance_oracle() -> str:
    return f"""
    WITH w AS (
      SELECT doc_id, source, {_DUCK_WORDS} AS ws FROM documents
    ),
    {_dsir_cte_sql()}
    SELECT doc_id, n_tokens, logw FROM iw
    """


@query("q_importance_weight", oracle=_importance_oracle())
def q_importance_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight for data selection: per-doc
    average log-ratio of a target-domain unigram model (docs from one
    curated source) vs the raw-corpus model, both add-alpha smoothed
    over the shared vocabulary. Downstream, resampling keeps docs
    with the highest weights — the published recipe's hashed-n-gram
    estimator restated exactly so the oracle replays every weight.

    Scale shape mirrors q_quality_lm: two hash-aggregate count
    tables, scoring joins per-doc *distinct* words (one row per doc
    per word, vocabulary-bounded fan-out on frequent words), and the
    three corpus scalars (target tokens, raw tokens, vocabulary) are
    driver values — the BM25 N/avgdl pattern."""
    return T.importance_weights(
        load(spark, sf_dir, "documents"), DSIR_TARGET_SOURCE, DSIR_ALPHA
    )


# ======================================================================
# L21: composed corpus-selection pipeline (one Catalyst plan)
# ======================================================================
#: Selection thresholds for the composed pipeline. Both sit >= 4e-7
#: from the nearest observed doc score at both test scale factors
#: (verified when tuned), so the cross-engine filter cannot flip; the
#: comparisons additionally run on the round-6 scores both engines
#: emit. Selected: 140/500 docs at sf0.01, 1545/5000 at sf0.1 before
#: the mixing gate — non-vacuous by construction.
SELECT_MIN_LOGP = -3.4
SELECT_MIN_LOGW = -0.005


def _pipeline_select_oracle() -> str:
    """Composes the shared LM and DSIR CTE chains with the shared
    mixing-gate SQL — every fragment is the same string the standalone
    oracles interpolate, so the composition cannot drift from its
    parts."""
    return f"""
    WITH w AS (
      SELECT doc_id, lang, source, {_DUCK_WORDS} AS ws FROM documents
    ),
    {_lm_cte_sql()},
    {_dsir_cte_sql()}
    SELECT lang, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM documents
    JOIN lm USING (doc_id) JOIN iw USING (doc_id)
    WHERE avg_logp >= {SELECT_MIN_LOGP}
      AND logw >= {SELECT_MIN_LOGW}
      AND {_mix_bucket_sql()} < {_mix_case_sql()}
    GROUP BY lang
    """


@query("q_pipeline_select", oracle=_pipeline_select_oracle())
def q_pipeline_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-selection pipeline as ONE Catalyst plan:
    bigram-LM quality floor (L17) AND DSIR importance floor (L20) AND
    the content-keyed mixing gate (L13), aggregated to per-language
    selected-doc and token counts. The r3 hygiene composition
    (q_pipeline_guarded) gates on *integrity*; this one gates on
    *scoring* — together they are the full data-selection recipe a
    pre-training pipeline runs.

    Scale shape: both score tiers join per-doc distinct grams against
    broadcastable count tables, the mixing gate is a codegen filter,
    and the final aggregate is per-language — the text is read once
    per scoring model and never shuffled whole."""
    from ..functions.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    lm = T.bigram_lm_scores(docs, LM_ALPHA).select("doc_id", "avg_logp")
    iw = T.importance_weights(docs, DSIR_TARGET_SOURCE, DSIR_ALPHA)
    selected = (
        stratified_sample(docs, MIX_RATES, seed=MIX_SEED)
        .select("doc_id", "lang")
        .join(lm, "doc_id")
        .join(iw, "doc_id")
        .filter(
            (F.col("avg_logp") >= F.lit(SELECT_MIN_LOGP))
            & (F.col("logw") >= F.lit(SELECT_MIN_LOGW))
        )
    )
    return selected.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ======================================================================
# L22: perceptual image hash through the real PNG roundtrip
# ======================================================================
def _media_phash_oracle(cell_map: str = "{v}") -> str:
    """Replays the cell-image arithmetic + dHash in SQL. ``cell_map``
    maps a raw mod-256 cell value ``{v}`` to the pixel value the codec
    carried — identity for PNG (lossless), the 16-spaced grid mapping
    for JPEG (quantize-exact through the DCT)."""
    from ..functions.multimodal import PHASH_GRID_H, PHASH_GRID_W

    ncells = PHASH_GRID_H * PHASH_GRID_W
    bit = f"CAST((a.cell // {PHASH_GRID_W}) * 8 + (a.cell % {PHASH_GRID_W}) AS INTEGER)"
    mapped = cell_map.format(v="coalesce(cells.val, 0)")
    return f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
    wc AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY doc_id, word),
    contrib AS (
      SELECT doc_id,
             {_duck_word_hash("word")} % {ncells} AS cell,
             {_duck_word_hash("word || ':' || CAST(cnt AS VARCHAR)")} AS hv
      FROM wc
    ),
    cells AS (
      SELECT doc_id, cell, CAST(sum(hv) % 256 AS BIGINT) AS val
      FROM contrib GROUP BY doc_id, cell
    ),
    grid AS (
      SELECT d.doc_id, g.cell, {mapped} AS val
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN (SELECT unnest(range(0, {ncells})) AS cell) g
      LEFT JOIN cells ON cells.doc_id = d.doc_id AND cells.cell = g.cell
    )
    SELECT a.doc_id AS doc_id,
           CAST(sum(CASE WHEN a.val < b.val
               THEN (CAST(1 AS BIGINT) << {bit}) ELSE 0 END) AS BIGINT)
             AS phash
    FROM grid a JOIN grid b ON a.doc_id = b.doc_id AND b.cell = a.cell + 1
    WHERE a.cell % {PHASH_GRID_W} < {PHASH_GRID_W - 1}
    GROUP BY a.doc_id
    """


@query("q_media_phash", oracle=_media_phash_oracle())
def q_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash (dHash) computed through the REAL PNG
    encode->decode roundtrip: each doc's bag-of-words cell image is
    encoded as a real PNG (rotating scanline filters), decoded back by
    the pure-Python inflate+unfilter walk, and dHashed. The oracle
    recomputes the hash from the cell arithmetic alone — agreement on
    every row proves the codec roundtrip is lossless bit-for-bit,
    turning the multimodal tier's decode path into a driver-checkable
    value-hash gate instead of a rows-only check.

    Scale shape: ONE Arrow-batched mapInPandas stage (r14: the synth
    and decode halves fused — same per-row encode→decode codec walk,
    but the payload no longer round-trips JVM→Python→JVM between two
    Python stages; at sf0.1 the second stage's launch+exchange cost
    more than the entire decode compute), constant bytes/doc; the
    phash is the 8-byte dedup/blocking key downstream (equal or
    Hamming-banded, as in SimHash)."""
    from ..functions.multimodal import synth_cell_png_phash
    from ..tables import spread

    docs = spread(load(spark, sf_dir, "documents"))
    return synth_cell_png_phash(docs, "doc_id", "text").select(
        F.col("media_id").alias("doc_id"), "phash"
    )


@query(
    "q_media_phash_jpeg",
    oracle=_media_phash_oracle(
        cell_map="(({v}) % 14 + 1) * 16"
    ),
)
def q_media_phash_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash through the REAL baseline JPEG roundtrip
    (VERDICT_r4 #4): each doc's 16-spaced cell image is encoded as a
    real T.81 baseline JPEG — frequency-optimized Huffman tables
    declared in DHT, quant=1, a restart marker mid-stream — and decoded
    back by the full pure-Python pipeline (canonical Huffman rebuild,
    entropy decode with byte unstuffing + RST resync, dequantize,
    un-zigzag, float64 IDCT). JPEG is lossy, so the gate quantizes:
    cells live on a 16-grid and quant=1 DCT loss is provably < 8 grey
    levels, so re-quantizing the decoded pixels recovers every cell
    EXACTLY — the oracle replays the cell arithmetic and the dHash
    from the text alone, making the entire entropy-coding + DCT path a
    driver-checkable value-hash gate (the JPEG twin of q_media_phash's
    PNG gate).

    Scale shape identical to L22: one fused Arrow-batched mapInPandas
    stage (r14, same rationale as q_media_phash), no shuffle,
    8 bytes/doc out."""
    from ..functions.multimodal import synth_cell_jpeg_phash
    from ..tables import spread

    docs = spread(load(spark, sf_dir, "documents"))
    return synth_cell_jpeg_phash(docs, "doc_id", "text").select(
        F.col("media_id").alias("doc_id"), "phash"
    )


VIDEO_SAMPLE_MS = 200


def _video_frames_oracle() -> str:
    """Per-sampled-frame dHash replay: same cell CTEs as the image
    oracle, cross-joined with the sampled frame indices (500 ms clip at
    10 fps sampled every 200 ms → frames 0, 2, 4), cell value shifted
    by the frame index before the 14-level/16-step grid mapping."""
    from ..functions.multimodal import (
        JPEG_CELL_LEVELS,
        JPEG_CELL_STEP,
        PHASH_GRID_H,
        PHASH_GRID_W,
        VIDEO_FPS,
        VIDEO_FRAMES,
    )

    uspf = 1_000_000 // VIDEO_FPS
    duration_ms = VIDEO_FRAMES * uspf // 1000
    sampled = sorted(
        {
            min(t * 1000 // uspf, VIDEO_FRAMES - 1)
            for t in range(0, duration_ms, VIDEO_SAMPLE_MS)
        }
    )
    ncells = PHASH_GRID_H * PHASH_GRID_W
    bit = (
        f"CAST((a.cell // {PHASH_GRID_W}) * 8 + (a.cell % {PHASH_GRID_W})"
        " AS INTEGER)"
    )
    mapped = (
        f"((coalesce(cells.val, 0) + fr.f) % {JPEG_CELL_LEVELS} + 1)"
        f" * {JPEG_CELL_STEP}"
    )
    return f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    tok AS (SELECT doc_id, unnest(ws) AS word FROM w),
    wc AS (SELECT doc_id, word, count(*) AS cnt FROM tok GROUP BY doc_id, word),
    contrib AS (
      SELECT doc_id,
             {_duck_word_hash("word")} % {ncells} AS cell,
             {_duck_word_hash("word || ':' || CAST(cnt AS VARCHAR)")} AS hv
      FROM wc
    ),
    cells AS (
      SELECT doc_id, cell, CAST(sum(hv) % 256 AS BIGINT) AS val
      FROM contrib GROUP BY doc_id, cell
    ),
    grid AS (
      SELECT d.doc_id, fr.f, g.cell, {mapped} AS val
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN (SELECT unnest({list(sampled)}) AS f) fr
      CROSS JOIN (SELECT unnest(range(0, {ncells})) AS cell) g
      LEFT JOIN cells ON cells.doc_id = d.doc_id AND cells.cell = g.cell
    )
    SELECT a.doc_id AS doc_id, CAST(a.f AS INTEGER) AS frame_idx,
           CAST(sum(CASE WHEN a.val < b.val
               THEN (CAST(1 AS BIGINT) << {bit}) ELSE 0 END) AS BIGINT)
             AS phash
    FROM grid a JOIN grid b
      ON a.doc_id = b.doc_id AND a.f = b.f AND b.cell = a.cell + 1
    WHERE a.cell % {PHASH_GRID_W} < {PHASH_GRID_W - 1}
    GROUP BY a.doc_id, a.f
    """


@query("q_video_frames", oracle=_video_frames_oracle())
def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling with REAL decode end-to-end: each doc's
    frame-shifted cell images become a real MJPEG-in-AVI clip (RIFF
    avih/strl headers, one baseline JPEG per '00dc' chunk, 5 frames at
    10 fps); the sampler walks the container, picks one frame per
    started 200 ms (frames 0, 2, 4 — the same rule as the metadata-only
    frame_sample_plan), decodes each sampled JPEG through the full
    T.81 path, and dHashes the re-quantized pixels. The oracle replays
    every sampled frame's hash from the text alone — agreement proves
    container walk + frame ordering + sampling arithmetic + JPEG
    decode all at once, upgrading the video tier from a metadata-only
    plan to decode-backed evidence.

    Scale shape: one Arrow-batched mapInPandas stage (r14: synth and
    sampler/decode fused — the multi-KB AVI payloads no longer make a
    JVM→Python→JVM round trip between two Python stages), no shuffle,
    3×16 bytes out per clip; at 100 TB this is the frame-extraction
    front of a vision-training pipeline."""
    from ..functions.multimodal import synth_cell_avi_frame_hashes
    from ..tables import spread

    docs = spread(load(spark, sf_dir, "documents"))
    return synth_cell_avi_frame_hashes(
        docs, "doc_id", "text", every_ms=VIDEO_SAMPLE_MS
    ).select(F.col("media_id").alias("doc_id"), "frame_idx", "phash")


# ======================================================================
# L23: audio fingerprint through the real WAV roundtrip
# ======================================================================
def _audio_fp_oracle() -> str:
    from ..functions.multimodal import AUDIO_FRAME_LEN, AUDIO_FRAMES

    fl = AUDIO_FRAME_LEN
    sample = (
        f"CASE WHEN j*{fl} + m <= length(text) THEN "
        f"CAST(abs(((ord(substr(text, CAST(j*{fl}+m AS INTEGER), 1)) % 256)"
        f" - 128) * 256) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    )
    energy = (
        f"list_reduce(list_transform(range(1, {fl + 1}), "
        f"m -> {sample}), (a, b) -> a + b)"
    )
    return f"""
    WITH e AS (
      SELECT doc_id,
             list_transform(range(0, {AUDIO_FRAMES}), j -> {energy}) AS es
      FROM documents
    )
    SELECT doc_id,
           list_reduce(list_transform(range(1, {AUDIO_FRAMES}), j ->
             CASE WHEN es[j] < es[j+1]
                  THEN (CAST(1 AS BIGINT) << CAST(j-1 AS INTEGER))
                  ELSE CAST(0 AS BIGINT) END), (a, b) -> a + b) AS afp
    FROM e
    """


@query("q_audio_fingerprint", oracle=_audio_fp_oracle())
def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint (frame-energy deltas) computed through the
    REAL WAV roundtrip: each doc's deterministic PCM16 sample stream
    is encoded as a real RIFF/WAVE payload, decoded back by the chunk
    walk, framed, and fingerprinted. The oracle replays the integer
    arithmetic from the text alone — agreement on every row proves
    the WAV encode->decode roundtrip sample-exact, the audio twin of
    q_media_phash's PNG gate.

    Scale shape identical to L22: one fused Arrow-batched map stage
    (r14, same rationale as q_media_phash), no shuffle, 8 bytes/doc
    out; the fingerprint is the audio dedup / blocking key
    downstream."""
    from ..functions.multimodal import synth_wav_audio_fp
    from ..tables import spread

    docs = spread(load(spark, sf_dir, "documents"))
    return synth_wav_audio_fp(docs, "doc_id", "text").select(
        F.col("media_id").alias("doc_id"), "afp"
    )


# ======================================================================
# L24: feature-hashing text embedding + text-to-ANN composition
# ======================================================================
HASH_EMBED_DIM = 64


def _hash_embed_cte_sql(
    dim: int = HASH_EMBED_DIM, prefix: str = "", src: str = "w"
) -> str:
    """CTE chain after a ``{src}(doc_id, ws)`` CTE, yielding
    ``{prefix}emb(doc_id, v)`` — the hashing-trick embedding with
    all-integer components (exact in double). Shared by the
    standalone embedding oracle, the text-ANN composition oracle,
    and (r12, via ``prefix``/``src`` so two chains coexist in one
    statement) the chunk-pooling fidelity oracle."""
    h = _duck_word_hash
    p = prefix
    return f"""
    {p}tok AS (SELECT doc_id, unnest(ws) AS word FROM {src}),
    {p}wc AS (SELECT doc_id, word, count(*) AS cnt FROM {p}tok
              GROUP BY doc_id, word),
    {p}signed AS (
      SELECT doc_id, {h("word")} % {dim} AS k,
             CASE WHEN {h("'s:' || word")} % 2 = 0 THEN cnt ELSE -cnt END AS sv
      FROM {p}wc
    ),
    {p}hcells AS (SELECT doc_id, k, sum(sv) AS val FROM {p}signed
                  GROUP BY doc_id, k),
    {p}hgrid AS (
      SELECT d.doc_id, g.k, CAST(coalesce(val, 0) AS DOUBLE) AS val
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN (SELECT unnest(range(0, {dim})) AS k) g
      LEFT JOIN {p}hcells ON {p}hcells.doc_id = d.doc_id
                         AND {p}hcells.k = g.k
    ),
    {p}emb AS (
      SELECT doc_id, list(val ORDER BY k) AS v FROM {p}hgrid
      GROUP BY doc_id
    )"""


@query(
    "q_text_hash_embed",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    {_hash_embed_cte_sql()}
    SELECT doc_id,
           array_to_string(
             list_transform(v, x -> CAST(x AS BIGINT)), ',') AS embedding
    FROM emb
    """,
)
def q_text_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text embedding (HashingVectorizer / DSIR
    hashed-features shape): 64 signed-count components from two
    independent word hashes. Components are integers carried as
    doubles, so the embedding — unlike a trained model's — is exact
    in both engines and the whole downstream vector tier becomes
    oracle-checkable on derived text embeddings. Projected as a
    comma-joined integer string for the same driver-canonicalizer
    reason as q_vector_sq (raw ARRAY cells are unhashable there);
    the array form itself is exercised downstream by q_text_knn."""
    from ..tables import spread

    emb = T.hash_embed(
        spread(load(spark, sf_dir, "documents")), HASH_EMBED_DIM
    )
    return emb.select(
        "doc_id",
        F.array_join(
            F.transform(
                "embedding", lambda x: x.cast("bigint").cast("string")
            ),
            ",",
        ).alias("embedding"),
    )


# ======================================================================
# L24''': chunk-pooling fidelity (RAG embedding diagnostic, r12)
# ======================================================================
#: Chunking grid for the pooling diagnostic — the q_chunk_text window
#: (200-char chunks, 150 stride) so the two queries describe the SAME
#: chunking.
POOL_CHUNK_SIZE, POOL_CHUNK_STRIDE, POOL_CHUNK_OVERLAP = 200, 150, 50


def _chunk_pool_oracle() -> str:
    dw = _DUCK_WORDS
    chunk_ws = (
        r"list_filter(string_split_regex("
        f"substr(text, s + 1, {POOL_CHUNK_SIZE}),"
        r" '[ \t\n\r\f\x0B]+'), x -> x <> '')"
    )
    starts = (
        f"range(0, greatest(len(text) - {POOL_CHUNK_OVERLAP}, 1),"
        f" {POOL_CHUNK_STRIDE})"
    )
    cos = _duck_cosine("demb.v", "cemb.v")
    return f"""
    WITH w AS (SELECT doc_id, {dw} AS ws FROM documents),
    {_hash_embed_cte_sql(prefix="d")},
    cw AS (
      SELECT doc_id,
             flatten(list_transform({starts}, s -> {chunk_ws})) AS ws
      FROM documents
    ),
    {_hash_embed_cte_sql(prefix="c", src="cw")},
    nch AS (
      SELECT doc_id, CAST(len({starts}) AS BIGINT) AS n_chunks
      FROM documents
    )
    SELECT demb.doc_id, nch.n_chunks,
           CASE WHEN list_dot_product(demb.v, demb.v) > 0
                 AND list_dot_product(cemb.v, cemb.v) > 0
                THEN round({cos}, 6) ELSE -1.0 END AS pool_cos
    FROM demb
    JOIN cemb ON demb.doc_id = cemb.doc_id
    JOIN nch ON nch.doc_id = demb.doc_id
    """


@query("q_chunk_pool_fidelity", oracle=_chunk_pool_oracle())
def q_chunk_pool_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHUNK-POOLING FIDELITY (r12) — the RAG-pipeline question
    q_chunk_text raises but cannot answer: if each document is
    embedded as the POOL of its chunk embeddings (mean/sum — scale-
    invariant under cosine, so the exact-integer SUM is the pooled
    vector), how far does the pooled vector drift from embedding the
    whole document at once? Feature hashing is linear in word
    counts, so the pooled vector IS the embedding of the chunk-word
    multiset — the drift measured here is exactly what the chunking
    grid does to the text: overlap regions double-counted, words cut
    at chunk boundaries re-tokenized. One row per doc: chunk count
    and cosine(doc-embedding, pooled-embedding); low values flag the
    docs whose retrieval behavior changes when the index switches
    from doc-level to chunk-level embeddings. Zero-token sides score
    the engine-wide −1.0 guard.

    Scale shape: ONE persisted projection computes both word arrays
    (the chunk side by codegen transform-over-starts INSIDE the row —
    no explode, no shuffle of chunk text), the two hash-embed
    aggregates share it (the q_search_rrf shared-scan pattern), and
    the final join carries 64-double vectors keyed by doc. All
    integer arithmetic until the single cosine."""
    from ..functions.vectors import cosine, dot

    docs = load(spark, sf_dir, "documents")
    bound = F.greatest(
        F.length("text") - POOL_CHUNK_OVERLAP, F.lit(1)
    )
    starts = F.sequence(F.lit(0), bound - 1, F.lit(POOL_CHUNK_STRIDE))
    chunk_words = F.flatten(
        F.transform(
            starts,
            lambda s: T.words(
                F.substring(
                    F.col("text"), s + 1, POOL_CHUNK_SIZE
                )
            ),
        )
    )
    from ..tables import spread

    shared = persist(
        spread(docs).select(
            "doc_id",
            T.words(F.col("text")).alias("__dw"),
            chunk_words.alias("__cw"),
            F.size(starts).cast("bigint").alias("n_chunks"),
        )
    )
    demb = T.hash_embed(shared, HASH_EMBED_DIM, words_col="__dw")
    cemb = T.hash_embed(
        shared, HASH_EMBED_DIM, words_col="__cw"
    ).withColumnRenamed("embedding", "cembedding")
    j = (
        demb.join(cemb, "doc_id")
        .join(shared.select("doc_id", "n_chunks"), "doc_id")
    )
    guarded = F.when(
        (dot(F.col("embedding"), F.col("embedding")) > 0)
        & (dot(F.col("cembedding"), F.col("cembedding")) > 0),
        F.round(cosine(F.col("embedding"), F.col("cembedding")), 6),
    ).otherwise(F.lit(-1.0))
    return j.select("doc_id", "n_chunks", guarded.alias("pool_cos"))


def _text_knn_oracle(n_bits: int = 6) -> str:
    from ..functions.vectors import HYPER_MOD, HYPER_P1, HYPER_P2

    def dotj(j: int) -> str:
        plane = (
            f"((({j}*{HYPER_P1} + (i-1)*{HYPER_P2} + 1) % {HYPER_MOD})"
            f"::DOUBLE / {HYPER_MOD} - 0.5)"
        )
        return (
            f"list_reduce(list_transform(range(1, len(v)+1), "
            f"i -> v[i] * {plane}), (a, b) -> a + b)"
        )

    sig = " + ".join(
        f"(CASE WHEN {dotj(j)} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_bits)
    )
    return f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    {_hash_embed_cte_sql()},
    s AS (SELECT doc_id, v, CAST({sig} AS INTEGER) AS sig FROM emb),
    q AS (
      SELECT v AS qv, sig AS qsig FROM s
      WHERE doc_id = (SELECT min(doc_id) FROM documents)
    ),
    c AS (
      SELECT doc_id, v, sig FROM s
      WHERE doc_id != (SELECT min(doc_id) FROM documents)
    )
    SELECT doc_id, round({_duck_cosine("v", "qv")}, 6) AS score
    FROM c, q WHERE c.sig = q.qsig
    ORDER BY score DESC, doc_id
    LIMIT 10
    """


@query("q_text_knn", oracle=_text_knn_oracle())
def q_text_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-to-ANN composition in one Catalyst plan: hash-embed every
    document, sign-LSH bucket the embeddings, and return the exact
    cosine top-10 for the min-doc_id query inside its bucket. The
    full chain — tokenize, embed, bucket, score — is deterministic
    integer/double arithmetic, so the composed oracle replays all of
    it; this is the similarity-search path a text corpus runs when no
    trained embedding model is in the loop."""
    from ..functions.vectors import hyperplane_topk, min_id_query_split
    from ..tables import spread

    # spread: single-row-group scan would serialize the embed
    # aggregates (2.1 s -> 1.3 s at sf0.1; no-op at real scale).
    # persist (r15, guide §5): min_id_query_split consumes emb twice
    # (query-vector arm + corpus arm) and the before-plan computed
    # the full tokenize+embed aggregate once per arm; caching halves
    # the corpus passes (interleaved same-JVM A/B med 1.18 -> 1.02 s,
    # results collect-identical at both SFs)
    emb = persist(
        T.hash_embed(
            spread(load(spark, sf_dir, "documents")), HASH_EMBED_DIM
        ).withColumnRenamed("doc_id", "vec_id")
    )
    qvec, corpus = min_id_query_split(emb)
    return hyperplane_topk(corpus, qvec, k=10, n_bits=6).withColumnRenamed(
        "vec_id", "doc_id"
    )


# ======================================================================
# L40: hybrid retrieval — reciprocal-rank fusion of BM25 + cosine ANN
# ======================================================================
#: RRF smoothing constant (the original paper's k=60) and the fused
#: list sizes: each ranking contributes its top-RRF_DEPTH, the fused
#: output is the top-RRF_K.
RRF_C = 60
RRF_DEPTH = 20
RRF_K = 10


def _search_rrf_oracle() -> str:
    from .advanced_queries import _SEARCH_TERMS

    terms = ", ".join(f"'{t}'" for t in _SEARCH_TERMS)
    guarded_cos = (
        "CASE WHEN list_dot_product(v, v) > 0"
        " AND list_dot_product(qv, qv) > 0"
        f" THEN round({_duck_cosine('v', 'qv')}, 6) ELSE -1.0 END"
    )
    # every lexical CTE is r-prefixed: the hash-embed chain already
    # owns tok/wc/… in this statement
    return f"""
    WITH w AS (SELECT doc_id, {_DUCK_WORDS} AS ws FROM documents),
    {_hash_embed_cte_sql()},
    rtok AS (
      SELECT doc_id,
             unnest(string_split_regex(lower(text), '[^a-z]+')) AS term
      FROM documents
    ), rtf AS (
      SELECT doc_id, term, count(*) AS tf FROM rtok
      WHERE term IN ({terms}) GROUP BY doc_id, term
    ), rdf AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM rtok
      WHERE term IN ({terms}) GROUP BY term
    ), rlens AS (
      SELECT doc_id,
             len(string_split_regex(lower(text), '[^a-z]+')) AS dl
      FROM documents
    ), rstats AS (
      SELECT count(*) AS n, (SELECT avg(dl) FROM rlens) AS avgdl
      FROM documents
    ), rbm AS (
      SELECT rtf.doc_id,
             round(sum(
               ln((rstats.n - rdf.df + 0.5) / (rdf.df + 0.5) + 1.0)
               * (rtf.tf * 2.2)
               / (rtf.tf + 1.2 * (0.25 + 0.75 * rlens.dl / rstats.avgdl))
             ), 6) AS score
      FROM rtf
      JOIN rdf USING (term)
      JOIN rlens ON rlens.doc_id = rtf.doc_id, rstats
      GROUP BY rtf.doc_id
    ), rbmtop AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS ra
      FROM rbm ORDER BY score DESC, doc_id LIMIT {RRF_DEPTH}
    ),
    rq AS (
      SELECT v AS qv FROM emb
      WHERE doc_id = (SELECT min(doc_id) FROM documents)
    ), rcs AS (
      SELECT doc_id, {guarded_cos} AS score
      FROM emb, rq
      WHERE doc_id != (SELECT min(doc_id) FROM documents)
    ), rcstop AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                  AS BIGINT) AS rb
      FROM rcs ORDER BY score DESC, doc_id LIMIT {RRF_DEPTH}
    )
    SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
           CAST(coalesce(a.ra, 0) AS BIGINT) AS lex_rank,
           CAST(coalesce(b.rb, 0) AS BIGINT) AS sem_rank,
           round(coalesce(1.0 / ({RRF_C} + a.ra), 0.0)
                 + coalesce(1.0 / ({RRF_C} + b.rb), 0.0), 6) AS rrf
    FROM rbmtop a FULL OUTER JOIN rcstop b ON a.doc_id = b.doc_id
    ORDER BY rrf DESC, doc_id LIMIT {RRF_K}
    """


@query("q_search_rrf", oracle=_search_rrf_oracle())
def q_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval by reciprocal-rank fusion (Cormack et al.'s
    RRF, k=60) — the standard way production search fuses a lexical
    ranking with a semantic one without score calibration: each
    document scores Σ 1/(60 + rank_i) over the rankings that
    retrieved it. Ranking A is the BM25 top-RRF_DEPTH over the
    engine's query terms (the exact q_search_bm25 scoring, same
    constants); ranking B is the exact-cosine top-RRF_DEPTH of the
    hash-embedded corpus against the min-doc_id query document (the
    q_text_knn embedding machinery, brute-force so the fused list is
    candidate-complete). Zero-norm embeddings score a guarded -1.0
    (never NaN) identically in both engines.

    Scale shape: both rankings end in TakeOrderedAndProject heaps
    (top-RRF_DEPTH); the rank row_numbers and the full-outer fusion
    run on the two ≤RRF_DEPTH-row lists — W1 tiny-prefix territory,
    free at any corpus size; ranks fuse with one correctly-rounded
    double chain (identical left-assoc order in both engines). A doc
    missing from a ranking contributes nothing (rank reported as 0).

    ONE corpus scan (r12, VERDICT_r11 #2): the two rankings use
    different tokenizers (BM25's ``[^a-z]+`` split vs the embedding's
    whitespace ``words``), but both arrays are computed in a single
    pass over ``text`` and PERSISTED — the way the dedup tier shares
    shingle arrays — so BM25's three consumers (dl, tf, df) and the
    embedding's explode all read the cached projection instead of
    re-tokenizing the corpus per consumer. At 100 TB the shared scan
    is the plan you'd want; plan_audit asserts the single tokenize.
    """
    from ..functions.vectors import cosine, dot, min_id_query_split
    from ..tables import spread
    from .advanced_queries import bm25_scores

    docs = load(spark, sf_dir, "documents")

    # one tokenize pass, both token forms, persisted for all consumers
    shared = persist(
        spread(docs).select(
            "doc_id",
            F.split(F.lower(F.col("text")), "[^a-z]+").alias("__bm_toks"),
            T.words(F.col("text")).alias("__ws_words"),
        )
    )

    # ranking A: BM25 — the exact q_search_bm25 scoring, SHARED code
    # (advanced_queries.bm25_scores); corpus stats ride a broadcast
    # 1-row frame instead of a driver .first() (VERDICT_r9 #3)
    bmtop = (
        bm25_scores(shared, tokens_col="__bm_toks", persist_tf=True)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(RRF_DEPTH)
    )

    # ranking B: exact cosine over hash embeddings vs the min-id doc.
    # emb is persisted (r15, guide §5): min_id_query_split reads it
    # twice (qvec arm + corpus arm) and without the cache the whole
    # 64-buffer embed aggregate ran twice — the before-plan shows the
    # Generate+HashAggregate subtree duplicated. With tf also cached
    # (persist_tf above), interleaved same-JVM A/B: med 1.93 -> 1.66 s
    # (second run 1.83 -> 1.44 s), results collect-identical.
    emb = persist(
        T.hash_embed(shared, HASH_EMBED_DIM, words_col="__ws_words")
    )
    qvec, corpus = min_id_query_split(emb, id_col="doc_id")
    guarded = F.when(
        (dot(F.col("embedding"), F.col("embedding")) > 0)
        & (dot(F.col("q"), F.col("q")) > 0),
        F.round(cosine(F.col("embedding"), F.col("q")), 6),
    ).otherwise(F.lit(-1.0))
    cstop = (
        corpus.join(F.broadcast(qvec))
        .select("doc_id", guarded.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(RRF_DEPTH)
    )

    return _rrf_fuse(bmtop, cstop)


def _rrf_fuse(bmtop: DataFrame, cstop: DataFrame) -> DataFrame:
    """Rank + reciprocal-rank-fuse two (doc_id, score) rankings —
    everything here runs on two ≤RRF_DEPTH-row lists (W1 tiny-prefix
    territory). Shared by the oracled brute-force q_search_rrf and
    the index-backed q_search_rrf_indexed so the fusion arithmetic
    can never drift between the oracle tier and the scale tier."""
    from pyspark.sql import Window

    wa = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    ra = bmtop.select(
        "doc_id", F.row_number().over(wa).cast("long").alias("ra")
    )
    rb = cstop.select(
        "doc_id", F.row_number().over(wa).cast("long").alias("rb")
    )
    fused = ra.join(rb, "doc_id", "full").select(
        "doc_id",
        F.coalesce(F.col("ra"), F.lit(0).cast("long")).alias("lex_rank"),
        F.coalesce(F.col("rb"), F.lit(0).cast("long")).alias("sem_rank"),
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_C) + F.col("ra")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_C) + F.col("rb")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(RRF_K)


#: Index-backed semantic ranking knobs: the corpus's hash embeddings
#: are clustered into RRF_IVF_K spherical cells and materialized
#: partitioned-by-cell; each query probes the RRF_NPROBE best cells
#: via partition pruning. Same k/nprobe as q_knn_ivf.
RRF_IVF_K = 8
RRF_NPROBE = 3

@query("q_search_rrf_indexed", oracle=None)
def q_search_rrf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval, INDEX-BACKED semantic ranking (VERDICT_r9
    #6): q_search_rrf's ranking B is brute-force cosine — correct and
    candidate-complete, but at 100 TB the semantic side should probe
    a materialized index. This variant ranks B with the trained-IVF
    scale path: the corpus's hash embeddings cluster into RRF_IVF_K
    spherical k-means cells, the index is WRITTEN PARTITIONED BY CELL
    (vectors.write_ivf_index), and each query exact-scores only the
    RRF_NPROBE best cells — the scan's PartitionFilters prune the
    rest before any I/O (asserted in pytest and plan audit). Ranking
    A (BM25) and the fusion arithmetic are the exact q_search_rrf
    code (shared bm25_scores / _rrf_fuse).

    ROWS-ONLY check by design (the q_knn_ivf precedent): Lloyd's over
    doubles is not replayed by this oracle tier, and the probe is
    approximate — its correctness evidence is the pytest parity
    bound (fused-list recall vs the oracled brute form >= the
    sign-LSH multiprobe alternative's recall on the same task) plus
    the partition-pruning plan assertion. The index is built once
    per corpus fingerprint and memoized (train-once/serve-many)."""
    import os
    import tempfile

    from ..functions.vectors import ivf_topk_indexed, min_id_query_split
    from ..functions.vectors import kmeans_fit, write_ivf_index
    from ..tables import spread
    from .advanced_queries import bm25_scores

    docs = load(spark, sf_dir, "documents")
    bmtop = (
        bm25_scores(docs)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(RRF_DEPTH)
    )

    # query vector: hash-embed ONLY the min-id document (r15, guide
    # §1.2 "don't compute things you throw away"). hash_embed is a
    # pure per-doc function, so embedding the 1-row filtered doc is
    # bit-identical to embedding the corpus and filtering — but the
    # warm (memoized-index) path then never runs the full-corpus
    # embed aggregate it used to discard. Interleaved same-JVM A/B:
    # med 1.10 -> 0.65 s, fused lists collect-identical at both SFs.
    qmin = docs.agg(F.min("doc_id").alias("__qid"))
    qdoc = docs.join(
        F.broadcast(qmin), F.col("doc_id") == F.col("__qid")
    ).select("doc_id", "text")
    qvec = T.hash_embed(qdoc, HASH_EMBED_DIM).select(
        F.col("embedding").alias("q")
    )

    ck = corpus_key(sf_dir, table="documents.parquet")

    # (index_path, [(centroid_id, cvec), ...]), built once per corpus
    def build():
        emb = T.hash_embed(spread(docs), HASH_EMBED_DIM).withColumnRenamed(
            "doc_id", "vec_id"
        )
        _, corpus = min_id_query_split(emb)
        cents = kmeans_fit(corpus, k=RRF_IVF_K, iters=3)
        path = os.path.join(
            tempfile.gettempdir(),
            f"spark_graft_rrf_ivf_{abs(hash(ck)):x}",
        )
        write_ivf_index(corpus, cents, path)
        return path, [
            (r["centroid_id"], list(r["cvec"])) for r in cents.collect()
        ]

    path, cent_rows = trained("rrf_ivf", ck, build)
    cents = spark.createDataFrame(
        cent_rows, "centroid_id int, cvec array<double>"
    )
    cstop = ivf_topk_indexed(
        spark, path, cents, qvec, k=RRF_DEPTH, nprobe=RRF_NPROBE
    ).withColumnRenamed("vec_id", "doc_id")
    return _rrf_fuse(bmtop, cstop)


# ======================================================================
# L25: deterministic training-order shuffle
# ======================================================================
#: Epoch seed for the reproducible corpus shuffle. Changing the seed
#: reshuffles; same seed + same corpus = identical order on any
#: cluster layout, rerun, or engine.
SHUFFLE_SEED = "epoch0"


@query(
    "q_training_shuffle",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             ((('0x' || substr(md5('{SHUFFLE_SEED}:' ||
                CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
              % {T.HASH_MOD}) AS skey
      FROM documents
    )
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY skey, doc_id) - 1 AS BIGINT)
             AS shuffle_pos
    FROM k
    """,
)
def q_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible global training shuffle: every doc gets a dense
    position in the order of its seed-keyed md5 hash (ties broken by
    id). Content-keyed like the mixing gate — reruns, repartitions,
    and the oracle all produce the identical permutation, which is
    what makes a training run's data order auditable.

    Scale shape: NOT a global-sort window — the rank reuses the log
    tier's two-phase range-partitioned offset assignment (one range
    exchange + codegen arithmetic from monotonically_increasing_id),
    the same plan-audited machinery that scales W1 to 100 TB."""
    from ..log.model import assign_offsets

    docs = load(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        T.md5_hash(
            F.concat(F.lit(f"{SHUFFLE_SEED}:"), F.col("doc_id"))
        ).alias("skey"),
    )
    return assign_offsets(
        keyed, order_by=["skey", "doc_id"], offset_col="shuffle_pos", start=0
    ).select("doc_id", "shuffle_pos")


# ======================================================================
# L30: curriculum ordering (quality-staged deterministic order)
# ======================================================================
#: Quality-stage thresholds (fixed literals, ~quartiles of the driver
#: corpus): stage 0 = highest quality first. FIXED thresholds, not
#: quantiles — a global ntile needs a single-partition window and a
#: percentile_approx is engine-specific; literals are scale-free and
#: exactly replayed by the oracle.
CURRICULUM_STAGES = (0.33, 0.25, 0.16)
CURRICULUM_SEED = "cur0"


def _curriculum_oracle() -> str:
    hi, mid, lo = CURRICULUM_STAGES
    en = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS["en"])
    return rf"""
    WITH t AS (
      SELECT doc_id, text, {_DUCK_WORDS} AS ws FROM documents
    ),
    f AS (
      SELECT doc_id,
             len(ws) AS n_tokens,
             CAST(len(list_filter(ws, x -> list_contains([{en}], lower(x))))
                  AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS sr,
             CAST(length(text) -
                  length(regexp_replace(text, '[^\w \t\n\r\f\x0B]', '',
                                        'g'))
                  AS DOUBLE) / CAST(length(text) AS DOUBLE) AS pr
      FROM t
    ),
    q AS (
      SELECT doc_id,
             round(0.5*sr + 0.4*least(CAST(n_tokens AS DOUBLE)/100.0, 1.0)
                   - 0.1*pr, 6) AS quality
      FROM f
    ),
    s AS (
      SELECT doc_id,
             CAST(CASE WHEN quality >= {hi} THEN 0
                       WHEN quality >= {mid} THEN 1
                       WHEN quality >= {lo} THEN 2
                       ELSE 3 END AS INTEGER) AS stage,
             ((('0x' || substr(md5('{CURRICULUM_SEED}:' ||
                CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)
              % {T.HASH_MOD}) AS skey
      FROM q
    )
    SELECT doc_id, stage,
           CAST(row_number() OVER (ORDER BY stage, skey, doc_id) - 1
                AS BIGINT) AS curriculum_pos
    FROM s
    """


@query("q_curriculum_order", oracle=_curriculum_oracle())
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (Bengio et al. curriculum-learning shape):
    every doc gets a dense global training position ordered by quality
    stage (highest-quality stage first), shuffled deterministically
    WITHIN each stage by the seed-keyed md5 — the composition of the
    L4 quality score and the L25 reproducible shuffle that a staged
    pre-training run consumes. Rerun/engine-identical like the plain
    shuffle; changing the seed reshuffles within stages without moving
    any doc across stages.

    Scale shape: the stage is one codegen projection and the global
    order reuses the two-phase range-partitioned rank (no global-sort
    window, no single-partition ntile — stage thresholds are fixed
    literals precisely so no global quantile pass is needed)."""
    from ..log.model import assign_offsets

    hi, mid, lo = CURRICULUM_STAGES
    docs = load(spark, sf_dir, "documents")
    q = T.quality_score(F.col("text"))
    staged = docs.select(
        "doc_id",
        F.when(q >= hi, 0)
        .when(q >= mid, 1)
        .when(q >= lo, 2)
        .otherwise(3)
        .cast("int")
        .alias("stage"),
        T.md5_hash(
            F.concat(F.lit(f"{CURRICULUM_SEED}:"), F.col("doc_id"))
        ).alias("skey"),
    )
    return assign_offsets(
        staged,
        order_by=["stage", "skey", "doc_id"],
        offset_col="curriculum_pos",
        start=0,
    ).select("doc_id", "stage", "curriculum_pos")


def _trained_merges(
    docs: DataFrame, sf_dir: str, word_re: str | None = None
) -> list[tuple[str, str]]:
    """Train-once/apply-many BPE merges for ``sf_dir``'s documents
    table under the given alphabet (None → the default WORD_RE). The
    key adds the alphabet and merge count to the corpus fingerprint
    (the BpeVocab._ALPHABET precedent — merges trained under
    different word_re are different models)."""
    from ..functions.bpe import DEFAULT_MERGES, learn_bpe, word_vocab

    ck = corpus_key(sf_dir, table="documents.parquet") + (
        word_re,
        DEFAULT_MERGES,
    )

    def build():
        vocab = (
            word_vocab(docs)
            if word_re is None
            else word_vocab(docs, word_re=word_re)
        )
        return learn_bpe(vocab)

    return trained("bpe", ck, build)


@query("q_bpe_tokens", oracle=_bpe.bpe_oracle_sql())
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-merge subword tokenization (real BPE — SURVEY §2.11
    [EXT], VERDICT_r5 #2): learn a merge table from the corpus's
    word-frequency table (12 merges, deterministic (count DESC, pair
    ASC) tie-breaks), then re-tokenize every document under it.
    Returns (doc_id, n_words, bpe_tokens) — the token budget every
    budgeted op (pack_sequences, dataset mixing) should meter in.

    Unlike q_token_count's regex approximation, the merges here are
    LEARNED: a corpus change re-orders the merge table, which changes
    every count — so the full value-hash oracle (which replays
    training itself as 12 chained CTEs) proves training and
    application end-to-end, not just the arithmetic.

    Scale shape: training touches the corpus once (word-frequency
    build). A vocabulary within ``bpe.TRAIN_VOCAB_WORDS`` is collected
    once and trained on the driver with incremental pair counts (2
    Spark jobs); a larger one keeps the Spark loop, one aggregation of
    the vocabulary and one one-row collect per merge. Application is
    chained literal replaces over distinct words (whole-stage codegen,
    no Python) and a broadcast join back to per-doc occurrence
    counts."""
    from ..functions.bpe import bpe_token_counts

    docs = load(spark, sf_dir, "documents")
    merges = _trained_merges(docs, sf_dir)
    return bpe_token_counts(docs, merges)


@query(
    "q_bpe_tokens_full",
    oracle=_bpe.bpe_oracle_sql(word_re=_bpe.WORD_RE_FULL),
)
def q_bpe_tokens_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_bpe_tokens over the WIDENED training alphabet (VERDICT_r6
    #5): words are lowercased ``[a-z0-9']+`` runs — digits and
    apostrophes join the stream ("don't", "2024", "gpt4" are single
    words), with case folded before extraction in both engines. The
    marker-safety argument is unchanged (U+00B7 and space are outside
    the alphabet); the apostrophe is SQL-escaped where the class is
    injected into the DuckDB literals. Same 12-merge training, same
    chained-CTE oracle replaying training + application, both sides
    running the widened regex — the driver corpus happens to be pure
    [a-z] words so its values coincide with q_bpe_tokens there; the
    behavioral difference (digits/apostrophe words surviving) is
    pinned by tests/test_bpe.py::
    test_full_alphabet_differs_on_digit_corpus.

    Scale shape identical to q_bpe_tokens: one corpus pass, driver
    training within ``bpe.TRAIN_VOCAB_WORDS`` words (the Spark loop
    over it), codegen application, broadcast vocabulary join."""
    from ..functions.bpe import WORD_RE_FULL, bpe_token_counts

    docs = load(spark, sf_dir, "documents")
    merges = _trained_merges(docs, sf_dir, word_re=WORD_RE_FULL)
    return bpe_token_counts(docs, merges, word_re=WORD_RE_FULL)


#: Hamming threshold for image near-dup pairing. The dHash is DENSE
#: over bit positions 0-55 (7 rows x 8 column comparisons on the 7x9
#: grid), so banding runs over 56 bits — the r6 code-review corrected
#: this from 63, which wasted 7 permanently-zero bits of the last
#: band's discriminative width (results identical either way:
#: pigeonhole completeness only needs the bands to COVER the hash).
MEDIA_MAX_HAMMING = 2
MEDIA_HASH_BITS = 56


def _dedup_media_oracle() -> str:
    """All-pairs Hamming over the replayed dHash: banding + verify is
    EXACTLY the thresholded pair set (pigeonhole completeness), so the
    oracle needs no band replay — the O(n²) form IS the sound oracle
    tier, same posture as the unpruned Jaccard oracle (SCALE.md
    'What does NOT scale, on purpose')."""
    return f"""
    WITH ph AS ({_media_phash_oracle()})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {MEDIA_MAX_HAMMING}
    """


@query("q_dedup_media", oracle=_dedup_media_oracle())
def q_dedup_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media near-dup candidate pairs (VERDICT_r5 #3): the L22 image
    pipeline composed with Hamming-banded pairing — each doc's cell
    image goes through the REAL PNG encode->decode walk, is dHashed,
    and near-identical images pair up within Hamming distance 2 plus
    an exact bit_count verify. The pHash is the downstream blocking
    key SCALE.md:100 names; this query is that composition declared.

    Scale shape: decode is Arrow mapInPandas with 8 bytes/doc out; the
    hash table is persisted (the self-join must not re-decode); the
    pairing is the banded equi-join of simhash_pairs_hamming
    generalized to MEDIA_HASH_BITS (56, the dHash's dense span) —
    constant probe rows per image, never
    all-pairs. The oracle replays the dHash from the cell arithmetic
    and takes the exact O(n²) pair set, sound because banding+verify
    is exactly the thresholded set."""
    from ..functions.multimodal import synth_cell_png_phash
    from ..tables import spread

    docs = spread(load(spark, sf_dir, "documents"))
    ph = persist(synth_cell_png_phash(docs, "doc_id", "text"))
    return hamming_pairs(
        ph, "media_id", "phash", MEDIA_MAX_HAMMING, n_bits=MEDIA_HASH_BITS
    )


#: Degenerate-fingerprint cap for the robust pairing: a pHash value
#: occurring more than this many times is routed to the exact tier.
#: 3 triggers on the driver corpus at BOTH SFs (largest groups are
#: 4-5 docs), so the declared row exercises both tiers, not just the
#: banded one.
MEDIA_ROBUST_FP_CAP = 3


def _dedup_media_robust_oracle() -> str:
    """Two-tier mirror of hamming_pairs_robust: banded tier = exact
    all-pairs Hamming over NON-degenerate fingerprints (sound because
    banding+verify is exactly that set); exact tier = star pairs
    (group-min rep, member, 0) of each over-cap fingerprint group."""
    return f"""
    WITH ph AS ({_media_phash_oracle()}),
    freq AS (
      SELECT phash, count(*) AS c, min(doc_id) AS rep
      FROM ph GROUP BY 1
    ),
    deg AS (SELECT phash, rep FROM freq WHERE c > {MEDIA_ROBUST_FP_CAP}),
    kept AS (
      SELECT p.* FROM ph p LEFT JOIN deg d USING (phash)
      WHERE d.phash IS NULL
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
    FROM kept a JOIN kept b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= {MEDIA_MAX_HAMMING}
    UNION ALL
    SELECT d.rep AS id_a, p.doc_id AS id_b, CAST(0 AS INTEGER) AS hamming
    FROM ph p JOIN deg d USING (phash)
    WHERE p.doc_id <> d.rep
    """


@query("q_dedup_media_robust", oracle=_dedup_media_robust_oracle())
def q_dedup_media_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-robust media near-dup (VERDICT_r6 #3): q_dedup_media
    with the ``max_fp_freq`` skew lever ENGAGED and its recall route
    composed in — over-cap ("degenerate") pHash groups leave the
    banded join and come back as exact star pairs (group-min rep ↔
    member, hamming 0). The cap (3) actually triggers on the driver
    corpus, so this row checks both tiers: the banded equi-join +
    bit_count verify over non-degenerate hashes AND the groupBy-based
    exact tier.

    Scale shape: this is the form to RUN at crawl scale, where
    empty/constant content classes produce c²-pair buckets — the
    banded join's per-bucket cost is capped by the exclusion, and the
    degenerate class costs one groupBy + broadcast join with O(c)
    output (star, not clique: equal fingerprints are an equivalence
    class). SCALE.md "degenerate-robust pairing" measures a poisoned
    150k-row bucket: time flat vs c where the unguarded join scales
    c²."""
    from ..functions.dedup import hamming_pairs_robust
    from ..functions.multimodal import synth_cell_png_phash
    from ..tables import spread

    docs = spread(load(spark, sf_dir, "documents"))
    ph = persist(synth_cell_png_phash(docs, "doc_id", "text"))
    return hamming_pairs_robust(
        ph,
        "media_id",
        "phash",
        MEDIA_MAX_HAMMING,
        n_bits=MEDIA_HASH_BITS,
        max_fp_freq=MEDIA_ROBUST_FP_CAP,
    )


#: Hamming threshold for audio near-dup pairing: the energy-delta
#: fingerprint carries AUDIO_FRAMES-1 = 56 bits.
AUDIO_MAX_HAMMING = 4
AUDIO_HASH_BITS = 56


def _dedup_audio_oracle() -> str:
    """All-pairs Hamming over the replayed audio fingerprint — sound
    for the same pigeonhole reason as the image oracle."""
    return f"""
    WITH fp AS ({_audio_fp_oracle()})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.afp, b.afp)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.afp, b.afp)) <= {AUDIO_MAX_HAMMING}
    """


@query("q_dedup_audio", oracle=_dedup_audio_oracle())
def q_dedup_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup candidate pairs — the L23 WAV pipeline composed
    with the same Hamming-banded pairing as q_dedup_media, completing
    media near-dup across modalities: each doc's PCM16 stream goes
    through the REAL RIFF/WAVE encode->decode walk, is fingerprinted
    (frame-energy deltas), and near-identical audio pairs up within
    Hamming distance 4 plus the exact bit_count verify.

    Scale shape identical to the image twin: Arrow decode with 8
    bytes/doc out, persisted fingerprint table, banded equi-join with
    constant probe rows per clip — never all-pairs. Oracle: replayed
    fingerprint arithmetic + the exact O(n²) pair set (sound because
    banding+verify IS the thresholded set)."""
    from ..functions.multimodal import synth_wav_audio_fp
    from ..tables import spread

    docs = spread(load(spark, sf_dir, "documents"))
    fp = persist(synth_wav_audio_fp(docs, "doc_id", "text"))
    return hamming_pairs(
        fp, "media_id", "afp", AUDIO_MAX_HAMMING, n_bits=AUDIO_HASH_BITS
    )


#: Sequence-packing budget in TRAINED-SUBWORD tokens (vs the 256
#: whitespace-token budget of q_pack_sequences): these docs run
#: ~2.5-4 subword tokens per word under the 12-merge table.
BPE_PACK_BUDGET = 1024


def _pack_bpe_oracle() -> str:
    return (
        "WITH"
        + _bpe.bpe_oracle_ctes()
        + f""",
    t AS (
      SELECT d.lang, d.doc_id,
             coalesce(p.bpe_tokens, CAST(0 AS BIGINT)) AS n_tokens
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ), c AS (
      SELECT lang, doc_id, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    )
    SELECT lang,
           CAST(floor((cum - n_tokens)::DOUBLE / {BPE_PACK_BUDGET})
                AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
    FROM c
    GROUP BY lang, pack_id
    """
    )


@query("q_pack_bpe", oracle=_pack_bpe_oracle())
def q_pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing metered in TRAINED-SUBWORD tokens (VERDICT_r5
    #2's follow-through, L32 ∘ L14): the budget every real packer uses
    is the model tokenizer's, not whitespace words — so this trains
    the 12-merge table, counts each doc's BPE tokens, and cuts the
    per-language stream every BPE_PACK_BUDGET subword tokens. The
    oracle replays BPE training, application, AND the packing window
    in one statement.

    Scale shape: q_bpe_tokens' vocabulary-bounded training + broadcast
    application feeding q_pack_sequences' per-stratum window — no new
    shuffle beyond the two parents'."""
    from ..functions.bpe import bpe_token_counts
    from ..functions.sampling import pack_sequences

    docs = load(spark, sf_dir, "documents")
    merges = _trained_merges(docs, sf_dir)
    counted = docs.join(
        bpe_token_counts(docs, merges).select("doc_id", "bpe_tokens"),
        "doc_id",
    )
    packed = pack_sequences(
        counted, BPE_PACK_BUDGET, n_tokens_col="bpe_tokens"
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


def _pack_chunked_oracle() -> str:
    return (
        "WITH"
        + _bpe.bpe_oracle_ctes()
        + f""",
    t AS (
      SELECT d.lang, d.doc_id,
             coalesce(p.bpe_tokens, CAST(0 AS BIGINT)) AS n_tokens
      FROM documents d LEFT JOIN per_doc p USING (doc_id)
    ), c AS (
      SELECT lang, doc_id, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM t
    ), s AS (
      SELECT lang, doc_id, n_tokens, cum - n_tokens AS tok_offset,
             CAST(floor((cum - n_tokens)::DOUBLE / {BPE_PACK_BUDGET})
                  AS BIGINT) AS first_pack,
             greatest(
               CAST(floor((cum - n_tokens)::DOUBLE / {BPE_PACK_BUDGET})
                    AS BIGINT),
               CAST(floor((cum - 1)::DOUBLE / {BPE_PACK_BUDGET})
                    AS BIGINT)) AS last_pack
      FROM c
    ), e AS (
      SELECT lang, doc_id, n_tokens, tok_offset,
             unnest(generate_series(first_pack, last_pack)) AS pack_id
      FROM s
    )
    SELECT lang, doc_id, CAST(pack_id AS BIGINT) AS pack_id,
           CAST(greatest(0, pack_id * {BPE_PACK_BUDGET} - tok_offset)
                AS BIGINT) AS tok_start,
           CAST(least(n_tokens,
                      (pack_id + 1) * {BPE_PACK_BUDGET} - tok_offset)
                AS BIGINT) AS tok_end
    FROM e
    """
    )


@query("q_pack_chunked", oracle=_pack_chunked_oracle())
def q_pack_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-SPLITTING sequence packing on the trained-BPE budget
    (VERDICT_r6 #4, L14' ∘ L32): q_pack_bpe assigns whole docs to
    packs, so a doc straddling a boundary overflows its pack — this
    emits per-pack token spans instead, cut at exact multiples of
    BPE_PACK_BUDGET in the per-language stream: every pack holds
    exactly the budget (each stratum's last pack excepted), and a
    doc's spans partition its tokens. The oracle replays BPE training,
    application, the packing window, AND the span grid
    (generate_series over intersected packs) in one statement.

    Scale shape: the parents' shuffles only (vocabulary-bounded
    training + broadcast application + one per-stratum window); the
    explode adds ≈ total_tokens/budget rows, no new exchange."""
    from ..functions.bpe import bpe_token_counts
    from ..functions.sampling import pack_chunked

    docs = load(spark, sf_dir, "documents")
    merges = _trained_merges(docs, sf_dir)
    counted = docs.join(
        bpe_token_counts(docs, merges).select("doc_id", "bpe_tokens"),
        "doc_id",
    )
    return pack_chunked(
        counted, BPE_PACK_BUDGET, n_tokens_col="bpe_tokens"
    )


#: Clip-level threshold: every sampled frame within this Hamming
#: distance (frame hashes use the MEDIA_HASH_BITS=56-bit dHash layout).
VIDEO_MAX_HAMMING = 4


def _dedup_video_oracle() -> str:
    """All-pairs per-frame aggregation over the replayed frame hashes
    — exactly the banded candidates + max-over-frames verify."""
    return f"""
    WITH fh AS ({_video_frames_oracle()}),
    agg AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             max(bit_count(xor(a.phash, b.phash))) AS mh
      FROM fh a JOIN fh b
        ON a.doc_id < b.doc_id AND a.frame_idx = b.frame_idx
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, CAST(mh AS INTEGER) AS max_hamming
    FROM agg WHERE mh <= {VIDEO_MAX_HAMMING}
    """


@query("q_dedup_video", oracle=_dedup_video_oracle())
def q_dedup_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup candidate pairs — the L26 MJPEG-AVI pipeline
    composed with frame-aligned Hamming banding (L33''), completing
    media near-dup across all three modalities: each doc's clip goes
    through the REAL container walk + per-frame baseline JPEG decode,
    every sampled frame is dHashed, and two clips pair iff EVERY
    aligned frame is within Hamming distance 4 (report the max).

    Scale shape (r15): the decode is Arrow mapInPandas emitting ONE
    row per clip (the sampled frame-hash arrays — pre-grouped, so no
    groupBy exchange); candidates come from the banded equi-join over
    frame 0 ONLY — complete because every clip samples frame 0 and a
    qualifying pair has every shared frame within the distance (see
    hamming_pairs_clipmaps) — and the all-frames verify is a map
    lookup over the clip arrays for CANDIDATES only, no per-frame
    fan-out join. Oracle: the replayed frame-hash arithmetic + the
    O(n²·frames) aggregation, sound because frame-0 banding is
    complete. Interleaved same-JVM A/B vs the per-frame-table form:
    min 1.44 vs 1.70-1.81 s at sf0.1, results collect-identical."""
    from ..functions.dedup import hamming_pairs_clipmaps
    from ..functions.multimodal import synth_cell_avi_clip_hashes
    from ..tables import spread

    docs = spread(load(spark, sf_dir, "documents"))
    clips = persist(
        synth_cell_avi_clip_hashes(
            docs, "doc_id", "text", every_ms=VIDEO_SAMPLE_MS
        )
    )
    return hamming_pairs_clipmaps(
        clips, "media_id", "fs", "hs", VIDEO_MAX_HAMMING,
        n_bits=MEDIA_HASH_BITS,
    )


# ======================================================================
# L32''': tokenizer fertility (per-language BPE eval)
# ======================================================================
@query(
    "q_bpe_fertility",
    oracle="WITH"
    + _bpe.bpe_oracle_ctes(_bpe.DEFAULT_MERGES, _bpe.WORD_RE_FULL)
    + """
SELECT doc.lang,
       CAST(sum(coalesce(p.n_words, 0)) AS BIGINT) AS n_words,
       CAST(sum(coalesce(p.bpe_tokens, 0)) AS BIGINT) AS bpe_tokens,
       round(CAST(sum(coalesce(p.bpe_tokens, 0)) AS DOUBLE)
             / greatest(1, sum(coalesce(p.n_words, 0))), 6) AS fertility
FROM documents doc LEFT JOIN per_doc p USING (doc_id)
GROUP BY doc.lang
""",
)
def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY by language — subword tokens per word
    under the trained full-alphabet merge table, the standard
    tokenizer-evaluation metric (a language whose fertility blows out
    is under-served by the learned merges and over-pays its token
    budget; the number multilingual tokenizer papers report per
    language). One trained artifact (the L32'' full-alphabet BPE),
    one per-language aggregate over the per-doc counts; the single
    float division is guarded by greatest(1, words) so an all-empty
    language yields fertility 0, not NaN — identically in both
    engines. The oracle replays BPE TRAINING plus every per-doc count
    before aggregating, so a corpus change that re-orders one merge
    flips the value hash."""
    from ..functions.bpe import WORD_RE_FULL, bpe_token_counts

    docs = load(spark, sf_dir, "documents")
    merges = _trained_merges(docs, sf_dir, word_re=WORD_RE_FULL)
    counts = bpe_token_counts(docs, merges, word_re=WORD_RE_FULL)
    return (
        docs.select("doc_id", "lang")
        .join(counts, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.sum(F.coalesce(F.col("n_words"), F.lit(0))).alias(
                "n_words"
            ),
            F.sum(F.coalesce(F.col("bpe_tokens"), F.lit(0))).alias(
                "bpe_tokens"
            ),
        )
        .select(
            "lang",
            "n_words",
            "bpe_tokens",
            F.round(
                F.col("bpe_tokens").cast("double")
                / F.greatest(F.lit(1).cast("long"), F.col("n_words")),
                6,
            ).alias("fertility"),
        )
    )


# ======================================================================
# L32'''': tokenizer coverage (per-language in-vocab rate, r12)
# ======================================================================
@query(
    "q_bpe_coverage",
    oracle="WITH"
    + _bpe.bpe_oracle_ctes(_bpe.DEFAULT_MERGES, _bpe.WORD_RE_FULL)
    + f""",
lw AS (
  SELECT doc.lang, w AS word, count(*) AS occ
  FROM documents doc,
       unnest(regexp_extract_all(lower(doc.text),
              '{_bpe.WORD_RE_FULL.replace("'", "''")}')) AS t(w)
  GROUP BY 1, 2
)
SELECT lw.lang,
       CAST(sum(lw.occ) AS BIGINT) AS n_word_occ,
       CAST(sum(CASE WHEN v.wtoks = 1 THEN lw.occ ELSE 0 END)
            AS BIGINT) AS occ_single,
       round(CAST(sum(CASE WHEN v.wtoks = 1 THEN lw.occ ELSE 0 END)
                  AS DOUBLE)
             / greatest(1, sum(lw.occ)), 6) AS occ_coverage,
       CAST(count(*) AS BIGINT) AS n_vocab,
       CAST(sum((v.wtoks = 1)::INT) AS BIGINT) AS vocab_single,
       round(CAST(sum((v.wtoks = 1)::INT) AS DOUBLE)
             / greatest(1, count(*)), 6) AS vocab_coverage
FROM lw JOIN vtok v USING (word)
GROUP BY lw.lang
""",
)
def q_bpe_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer COVERAGE by language (r12) — the OOV-rate twin of
    fertility: what share of word OCCURRENCES (and of the distinct
    per-language vocabulary) tokenizes to a SINGLE subword under the
    trained full-alphabet merge table. Fertility says how much a
    language over-pays per word on average; coverage says how much
    of its traffic the learned merges serve outright — the pair every
    multilingual tokenizer paper reports, and the number that decides
    whether a language needs more merges before training starts.

    Oracle replays BPE TRAINING plus the per-word application (the
    shared bpe_oracle_ctes chain — the q_bpe_fertility precedent), so
    a corpus change that re-orders one merge flips the value hash.
    Exact BIGINT counts; two guarded rounded divisions.

    Scale shape: tokenization happens once per DISTINCT word (the
    vocabulary table); the join back onto the (lang, word) occurrence
    aggregate runs the TIERED path (join_tokenized_vocab, r13,
    VERDICT_r12 #2) — top-K head force-broadcast (bounded build side
    at any corpus size), unbounded long tail shuffle-joined. The cap
    here is 16, BELOW the test corpus's 31-word pool, so BOTH tiers
    carry real traffic at every SF and the DuckDB oracle (a plain
    inner join) value-hashes the tiering's correctness; production
    uses bpe.BROADCAST_HEAD_WORDS. The trained merge table is
    memoized per corpus (train-once/apply-many), so the timed row is
    the application aggregate only."""
    from ..functions.bpe import (
        WORD_RE_FULL,
        apply_bpe,
        join_tokenized_vocab,
        word_vocab,
    )

    docs = load(spark, sf_dir, "documents")
    merges = _trained_merges(docs, sf_dir, word_re=WORD_RE_FULL)
    vtok = word_vocab(docs, word_re=WORD_RE_FULL).select(
        "word",
        "cnt",
        F.size(apply_bpe(F.col("word"), merges)).alias("wtoks"),
    )
    lw = (
        docs.select(
            "lang",
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")),
                    F.lit(WORD_RE_FULL),
                    F.lit(0),
                )
            ).alias("word"),
        )
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    single = F.when(F.col("wtoks") == 1, F.col("occ")).otherwise(F.lit(0))
    vsingle = (F.col("wtoks") == 1).cast("int")
    return (
        join_tokenized_vocab(lw, vtok, head_words=16)
        .groupBy("lang")
        .agg(
            F.sum("occ").cast("bigint").alias("n_word_occ"),
            F.sum(single).cast("bigint").alias("occ_single"),
            F.round(
                F.sum(single).cast("double")
                / F.greatest(F.lit(1).cast("long"), F.sum("occ")),
                6,
            ).alias("occ_coverage"),
            F.count(F.lit(1)).cast("bigint").alias("n_vocab"),
            F.sum(vsingle).cast("bigint").alias("vocab_single"),
            F.round(
                F.sum(vsingle).cast("double")
                / F.greatest(
                    F.lit(1).cast("long"), F.count(F.lit(1))
                ),
                6,
            ).alias("vocab_coverage"),
        )
    )


# ======================================================================
# L44: corpus dataset card (per-language exact-integer stats block)
# ======================================================================
@query(
    "q_corpus_card",
    oracle=f"""
    WITH t AS (
      SELECT lang, text,
             CAST(len({_DUCK_WORDS}) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(CAST(sum(n_tokens) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS mean_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens,
           count(DISTINCT text) AS distinct_texts,
           round(1.0 - CAST(count(DISTINCT text) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_rate
    FROM t GROUP BY lang
    """,
)
def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARD stats block (r10) — the per-language table every
    corpus release publishes: document and token counts, token-length
    moments, and the exact duplicate rate. Every figure derives from
    EXACT integers (counts, an int64 token sum, a count-distinct over
    the text) with the rounding applied to one final division, so the
    whole card replays bit-for-bit — the engine-determinism posture
    a reproducible dataset card actually needs.

    Scale shape: one hash aggregate per language with map-side
    partial combine; the count-distinct is Spark's standard two-phase
    expand (distinct (lang, text) partial, then the merged count) —
    state is distinct-text-bounded per language, the same bound the
    exact-dedup tier already carries. Output is ≤|langs| rows.

    The card body is :func:`corpus_card` — shared with the
    corpus_prep example (which publishes the card of its SELECTED
    corpus) so the released numbers and the declared query can never
    drift."""
    return corpus_card(load(spark, sf_dir, "documents"))


def corpus_card(docs: DataFrame) -> DataFrame:
    """The per-language dataset-card aggregate over any (lang, text)
    frame — ONE implementation shared by q_corpus_card and the
    corpus_prep run summary."""
    t = docs.select(
        "lang",
        "text",
        F.size(T.words(F.col("text"))).cast("long").alias("n_tokens"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(
            F.sum("n_tokens").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.countDistinct("text").alias("distinct_texts"),
        F.round(
            F.lit(1.0)
            - F.countDistinct("text").cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_rate"),
    )


# ======================================================================
# L27': Bloom-filter decontamination prefilter (r11)
# ======================================================================


def _bloom_contamination_oracle() -> str:
    from ..functions.sketches import BLOOM_H, BLOOM_M

    def pos(i: int) -> str:
        return (
            f"(('0x'||substr(md5('{i}:'||CAST(sh AS VARCHAR)),1,15))"
            f"::BIGINT % {BLOOM_M})"
        )

    poss = ", ".join(pos(i) for i in range(1, BLOOM_H + 1))
    return f"""
    WITH {_duck_shingle_hashes()},
    bench AS (
      SELECT DISTINCT s AS sh
      FROM sha, unnest(sh_arr) AS t(s)
      WHERE doc_id % 50 = 0
    ),
    bits AS (SELECT DISTINCT unnest([{poss}]) AS pos FROM bench),
    ex AS (SELECT doc_id, s AS sh FROM sha, unnest(sh_arr) AS t(s)),
    pp AS (SELECT doc_id, sh, unnest([{poss}]) AS pos FROM ex),
    ps AS (
      SELECT doc_id, sh, count(*) AS nhit
      FROM pp JOIN bits USING (pos)
      GROUP BY doc_id, sh
    ),
    bh AS (
      SELECT doc_id, count(*) AS n_bloom FROM ps
      WHERE nhit = {BLOOM_H} GROUP BY doc_id
    ),
    eh AS (
      SELECT ex.doc_id, count(*) AS n_exact
      FROM ex JOIN bench USING (sh)
      GROUP BY ex.doc_id
    )
    SELECT sha.doc_id AS doc_id,
           CAST(len(sh_arr) AS BIGINT) AS n_sh,
           CAST(coalesce(bh.n_bloom, 0) AS BIGINT) AS n_bloom_hits,
           CAST(coalesce(eh.n_exact, 0) AS BIGINT) AS n_exact_hits,
           coalesce(bh.n_bloom, 0) > 0 AS flagged
    FROM sha
    LEFT JOIN bh ON sha.doc_id = bh.doc_id
    LEFT JOIN eh ON sha.doc_id = eh.doc_id
    """


@query("q_bloom_contamination", oracle=_bloom_contamination_oracle())
def q_bloom_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM-PREFILTERED decontamination (r11) — q_contamination's
    100 TB serving shape: the benchmark shingle set compiles into a
    ≤BLOOM_M-row bit-cell table that BROADCASTS to every executor, so
    each corpus document checks its shingles against the filter with
    zero shuffle (the exact semi-join moves (id, sh) rows through an
    exchange; the Bloom probe moves nothing but the broadcast).
    Per doc: shingle count, Bloom possibly-present count, exact count
    — reported side-by-side so the filter's one-sided error is
    visible in the output itself (n_bloom_hits ≥ n_exact_hits always:
    no false negatives by construction; the excess is the measured FP
    cost of the m/h configuration). Every figure replays: positions
    are the engine-wide md5/conv hash salted by slot index
    (functions/sketches.py::bloom_positions — the build, the probe,
    the BloomStore, and this oracle share the one definition).

    Scale shape: shingle arrays persist once (the dedup-tier
    materialization point); the filter build is one explode+distinct
    over the eval-sized bench set; the probe is explode(h)/doc-shingle
    → broadcast semi-join → two per-doc counts. The incremental form
    is the BloomStore (SET-UNION merge — safe even
    under overlapping ingest), so a growing benchmark suite never
    rebuilds the filter."""
    from ..functions.dedup import shingle_hash_arrays
    from ..functions.sketches import bloom_bits, bloom_membership

    docs = load(spark, sf_dir, "documents")
    arrs = shingle_hash_arrays(docs)
    # r14: persist the two tiny build-side tables. bench_sh feeds the
    # filter build AND the exact semi-join; bits is broadcast once per
    # Bloom slot (BLOOM_H chained joins) — without the persists the
    # explode+distinct subtree re-ran once per consumer (4× in the
    # plan, see plans/r14/q_bloom_contamination_before.txt). Both are
    # bounded (≤ distinct bench shingles / ≤ BLOOM_M rows).
    bench_sh = persist(
        arrs.filter(F.col("id") % 50 == 0)
        .select(F.explode("sh_arr").alias("sh"))
        .distinct()
    )
    bits = persist(bloom_bits(bench_sh, "sh"))
    sh = arrs.select("id", F.explode("sh_arr").alias("sh"))
    bh = (
        bloom_membership(bits, sh, "sh")
        .filter(F.col("bloom_hit"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_bloom_hits"))
    )
    eh = (
        sh.join(bench_sh, "sh", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_exact_hits"))
    )
    return (
        arrs.select("id", "n_sh")
        .join(bh, "id", "left")
        .join(eh, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.col("n_sh").cast("bigint").alias("n_sh"),
            F.coalesce("n_bloom_hits", F.lit(0))
            .cast("bigint")
            .alias("n_bloom_hits"),
            F.coalesce("n_exact_hits", F.lit(0))
            .cast("bigint")
            .alias("n_exact_hits"),
            (F.coalesce("n_bloom_hits", F.lit(0)) > 0).alias("flagged"),
        )
    )


# ======================================================================
# L3''''': Matryoshka prefix-dimension ANN (r11)
# ======================================================================

#: Stage-1 prefix length (of d=64) — the "coarse" representation the
#: Matryoshka training objective (Kusupati et al., 2022) makes usable
#: standalone; here the prefix is exercised as a deterministic
#: shortlist stage regardless of how the embeddings were trained.
#: Measured on the (untrained) driver embeddings: prefix 16/shortlist
#: 50 recalls 3-4/10 of the exact top-10, prefix 32/shortlist 100
#: recalls 9-10/10 — half the stage-1 payload at full-recall fidelity
#: for THIS corpus; a genuinely MRL-trained embedding affords the
#: shorter prefixes.
MRL_PREFIX = 32
#: Stage-1 shortlist size re-scored at full dimension.
MRL_SHORTLIST = 100


def _matryoshka_oracle() -> str:
    pc = _duck_cosine("pv", "pq")
    return f"""
    WITH q AS (
      SELECT {_DUCK_DVEC} AS qv FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    ),
    c AS (
      SELECT vec_id, {_DUCK_DVEC} AS v FROM embeddings
      WHERE vec_id != (SELECT min(vec_id) FROM embeddings)
    ),
    p AS (
      SELECT vec_id, v, qv,
             v[1:{MRL_PREFIX}] AS pv, qv[1:{MRL_PREFIX}] AS pq
      FROM c, q
    ),
    s AS (
      SELECT vec_id, v, qv,
             CASE WHEN list_dot_product(pv, pv) > 0
                   AND list_dot_product(pq, pq) > 0
                  THEN {pc} ELSE -1.0 END AS ps
      FROM p
      ORDER BY ps DESC, vec_id
      LIMIT {MRL_SHORTLIST}
    )
    SELECT vec_id, round({_duck_cosine("v", "qv")}, 6) AS score
    FROM s
    ORDER BY score DESC, vec_id
    LIMIT 10
    """


@query("q_knn_matryoshka", oracle=_matryoshka_oracle())
def q_knn_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA prefix-dimension ANN (r11) — the fifth ANN family
    member (hash=sign-LSH, partition=IVF, grid=SQ, trained
    codebooks=PQ, now PREFIX TRUNCATION), and the only approximate
    one that is FULLY value-hash oracled: both stages are
    deterministic functions of the data (no trained artifact), so
    DuckDB replays shortlist and rerank exactly. Stage 1 scores the
    first MRL_PREFIX of d dims (the MRL serving trick: a prefix of a
    nested-trained embedding is itself an embedding); the
    MRL_SHORTLIST best re-score at full dimension for the exact
    top-10. Zero-prefix guard: a vector whose first MRL_PREFIX dims are all
    zero scores -1.0 in stage 1 (never NaN — the q_knn_recall guard),
    identically in both engines.

    Scale shape: stage 1 reads d/2 of the float payload — at rest
    the prefix is stored as its own column (`slice()` at write time)
    so parquet column pruning makes the stage-1 scan literally 2×
    smaller (shorter prefixes as the embedding's MRL training
    affords); the shortlist is a TakeOrderedAndProject heap, the
    rerank a broadcast semi-join fetching MRL_SHORTLIST full
    vectors. The same two-stage economics as PQ-ADC with zero
    training and zero recall loss at the shortlist the corpus
    affords."""
    from ..functions.vectors import dot

    emb = load(spark, sf_dir, "embeddings")
    qvec, corpus = min_id_query_split(emb)
    pv = F.slice(F.col("embedding"), 1, MRL_PREFIX)
    pq = F.slice(F.col("q"), 1, MRL_PREFIX)
    ps = F.when(
        (dot(pv, pv) > 0) & (dot(pq, pq) > 0), cosine(pv, pq)
    ).otherwise(F.lit(-1.0))
    short = (
        corpus.join(F.broadcast(qvec))
        .select("vec_id", ps.alias("__ps"))
        .orderBy(F.col("__ps").desc(), "vec_id")
        .limit(MRL_SHORTLIST)
        .select("vec_id")
    )
    cand = corpus.join(F.broadcast(short), "vec_id", "left_semi")
    return knn_topk(cand, qvec, k=10)


# ======================================================================
# L2g: dedup threshold sweep (r11)
# ======================================================================

#: Sweep floor: the verified-pair table is cut at this Jaccard so the
#: sweep has range below the production threshold (0.5).
SWEEP_FLOOR = 0.2
#: Bucket width 1/20 = 0.05 — exact in binary? No, but both engines
#: bucket the SAME rounded double with the SAME multiply+floor, so
#: the cell assignment replays bit-for-bit.
SWEEP_BUCKETS_PER_UNIT = 20


@query(
    "q_dedup_threshold_sweep",
    oracle=f"""
    WITH pairs AS ({_lsh_verified_oracle(SWEEP_FLOOR)}),
    b AS (
      SELECT CAST(floor(jaccard * {SWEEP_BUCKETS_PER_UNIT}) AS BIGINT)
               AS bucket_id,
             count(*) AS n_pairs
      FROM pairs GROUP BY 1
    )
    SELECT bucket_id,
           round(bucket_id / {SWEEP_BUCKETS_PER_UNIT}.0, 6)
             AS threshold_lo,
           n_pairs,
           CAST(sum(n_pairs) OVER (
             ORDER BY bucket_id DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS pairs_at_or_above
    FROM b
    """,
)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP THRESHOLD SWEEP (r11) — the tuning table behind "where
    do we set the near-dup cutoff": the verified pair table (cut low,
    at {SWEEP_FLOOR}) bucketed by Jaccard into 0.05 cells, with the
    cumulative pairs-removed-at-or-above each candidate threshold —
    one pass answers every threshold the curation team might pick,
    instead of one dedup run per candidate. Bucketing multiplies the
    SAME rounded double by the SAME constant in both engines, so the
    cell assignment replays exactly.

    Scale shape: the expensive part is the verified pair table the
    canonical pipeline already builds (banded candidates, exact
    re-score); the sweep itself is one map-side-combined bucket
    count and a running sum over the ≤20-row CELL table (the
    intentional tiny-frame window — never over pairs)."""
    from ..functions.dedup import lsh_verified_pairs

    from pyspark.sql import Window

    pairs = lsh_verified_pairs(
        load(spark, sf_dir, "documents"), threshold=SWEEP_FLOOR
    )
    b = (
        pairs.select(
            F.floor(F.col("jaccard") * SWEEP_BUCKETS_PER_UNIT)
            .cast("bigint")
            .alias("bucket_id")
        )
        .groupBy("bucket_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    w = (
        Window.orderBy(F.col("bucket_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return b.select(
        "bucket_id",
        F.round(
            F.col("bucket_id") / F.lit(float(SWEEP_BUCKETS_PER_UNIT)), 6
        ).alias("threshold_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("pairs_at_or_above"),
    )


# ======================================================================
# L44': Zipf-law corpus diagnostic (r11)
# ======================================================================


def _zipf_oracle() -> str:
    tok = (
        "SELECT w AS token FROM documents, "
        "unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(w) "
        "WHERE w <> ''"
    )
    # Degenerate-vocabulary guard (ADVICE_r11): on a one-token-type
    # corpus dx = v*sxx - sx² = 0 (and all-equal counts make dy = 0 for
    # R²); an unguarded divide is NULL in Spark but NaN/inf under
    # DuckDB's ieee_floating_point_ops default. Both sides CASE to the
    # same NULL sentinel so the engines agree.
    sl = ("CASE WHEN (v*sxx - sx*sx) <> 0 THEN "
          "(v*sxy - sx*sy) / (v*sxx - sx*sx) END")
    return f"""
    WITH tok AS ({tok}),
    wc AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
    rk AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, token) AS r
      FROM wc
    ),
    s AS (
      SELECT CAST(count(*) AS DOUBLE) AS v,
             sum(ln(CAST(r AS DOUBLE))) AS sx,
             sum(ln(CAST(n AS DOUBLE))) AS sy,
             sum(ln(CAST(r AS DOUBLE)) * ln(CAST(n AS DOUBLE))) AS sxy,
             sum(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))) AS sxx,
             sum(ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE))) AS syy,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(n) AS BIGINT) AS n_tokens
      FROM rk
    )
    SELECT n_types, n_tokens,
           round({sl}, 6) AS zipf_slope,
           round((sy - ({sl}) * sx) / v, 6) AS zipf_intercept,
           round(CASE WHEN (v*sxx - sx*sx) * (v*syy - sy*sy) <> 0 THEN
                 ((v*sxy - sx*sy) * (v*sxy - sx*sy))
                 / ((v*sxx - sx*sx) * (v*syy - sy*sy)) END, 6) AS r2
    FROM s
    """


@query("q_corpus_zipf", oracle=_zipf_oracle())
def q_corpus_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW DIAGNOSTIC (r11) — the corpus-statistics companion to
    the dataset card: the least-squares slope/intercept/R² of
    log-frequency vs log-rank over the full vocabulary. Natural text
    sits near slope −1 with high R²; template spam, OCR noise, or a
    collapsed crawl bend the curve — one row tells a curation team
    whether the corpus still looks like language. Ranks come from the
    engine's own W1 two-phase range-partitioned rank
    (``log.model.assign_offsets`` over (−count, token) — ONE range
    shuffle, no single-partition window even at a 100 TB vocabulary),
    and the regression is one aggregate over the vocabulary table.
    Cross-engine determinism: the ln sums are doubles, so per-group
    rounding to 6 decimals absorbs the engines' summation-order
    difference — the q_udaf_gmean precedent; every other figure is
    exact integers.

    Scale shape: tokenize → vocabulary hash aggregate (map-side
    combined; the token stream never shuffles raw), rank = the W1
    machinery over the Zipf-bounded vocab table, then ONE
    six-accumulator aggregate. No window outside the machinery's
    ≤num_partitions-row prefix table, no Python."""
    from ..log.model import assign_offsets

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda w: w != "",
            )
        ).alias("token")
    )
    wc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    rk = assign_offsets(
        wc.withColumn("__negn", -F.col("n")),
        order_by=["__negn", "token"],
        offset_col="r",
        start=1,
    )
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("n").cast("double"))
    s = rk.agg(
        F.count(F.lit(1)).cast("double").alias("v"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("n").cast("bigint").alias("n_tokens"),
    )
    # Degenerate-vocabulary guard (ADVICE_r11): zero denominators CASE
    # to NULL on both engines (see _zipf_oracle).
    dx = F.col("v") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("v") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("v") * F.col("sxy") - F.col("sx") * F.col("sy")
    sl = F.when(dx != 0, cov / dx)
    return s.select(
        "n_types",
        "n_tokens",
        F.round(sl, 6).alias("zipf_slope"),
        F.round(
            (F.col("sy") - sl * F.col("sx")) / F.col("v"), 6
        ).alias("zipf_intercept"),
        F.round(
            F.when(dx * dy != 0, (cov * cov) / (dx * dy)), 6
        ).alias("r2"),
    )


# ======================================================================
# L44'': Heaps-law vocabulary growth (r11)
# ======================================================================

#: Documents per growth-curve bucket.
HEAPS_BUCKET_DOCS = 100


@query(
    "q_corpus_heaps",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, w AS token FROM documents,
      unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(w)
      WHERE w <> ''
    ),
    fs AS (
      SELECT token, CAST(min(doc_id) // {HEAPS_BUCKET_DOCS} AS BIGINT)
               AS fb
      FROM tok GROUP BY token
    ),
    tb AS (
      SELECT CAST(doc_id // {HEAPS_BUCKET_DOCS} AS BIGINT) AS b,
             count(*) AS toks
      FROM tok GROUP BY 1
    ),
    nb AS (SELECT fb AS b, count(*) AS new_types FROM fs GROUP BY fb),
    cells AS (
      SELECT tb.b, tb.toks, coalesce(nb.new_types, 0) AS new_types
      FROM tb LEFT JOIN nb ON tb.b = nb.b
    )
    SELECT b AS bucket_id,
           CAST(sum(toks) OVER w AS BIGINT) AS n_tokens_cum,
           CAST(sum(new_types) OVER w AS BIGINT) AS n_types_cum
    FROM cells
    WINDOW w AS (ORDER BY b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_corpus_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS-LAW VOCABULARY GROWTH (r11) — the Zipf gauge's companion
    curve: cumulative distinct types vs cumulative tokens as the
    corpus grows in doc-id order (natural text grows types ~ Kn^β,
    β≈0.5; a saturating curve means templates, a linear one means
    noise/IDs). The expensive-looking "distinct types so far" is
    computed WITHOUT any cumulative distinct: a type is new exactly
    once — at its min(doc_id) — so one vocab aggregate (first-seen
    bucket per token) + one per-bucket token count + a running sum
    over the ≤(docs/bucket)-row CELL table gives the exact curve.
    All integers; every point replays.

    Scale shape: two map-side-combined hash aggregates (the token
    stream shuffles once, keyed by token — the Zipf/CMS shape), a
    tiny cell join, and the intentional tiny-frame cumulative window.
    No distinct-over-prefix, no growing state."""
    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tok = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda w: w != "",
            )
        ).alias("token"),
    )
    fs = tok.groupBy("token").agg(
        F.floor(F.min("doc_id") / HEAPS_BUCKET_DOCS)
        .cast("bigint")
        .alias("fb")
    )
    tb = (
        tok.groupBy(
            F.floor(F.col("doc_id") / HEAPS_BUCKET_DOCS)
            .cast("bigint")
            .alias("b")
        )
        .agg(F.count(F.lit(1)).alias("toks"))
    )
    nb = fs.groupBy(F.col("fb").alias("b")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    cells = tb.join(nb, "b", "left").select(
        "b", "toks", F.coalesce("new_types", F.lit(0)).alias("new_types")
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cells.select(
        F.col("b").alias("bucket_id"),
        F.sum("toks").over(w).cast("bigint").alias("n_tokens_cum"),
        F.sum("new_types").over(w).cast("bigint").alias("n_types_cum"),
    )


# ======================================================================
# L44''': split-KL corpus drift (r11)
# ======================================================================


@query(
    "q_corpus_drift",
    oracle="""
    WITH tok AS (
      SELECT doc_id % 2 AS s, w AS token FROM documents,
      unnest(string_split_regex(lower(text), '[^a-z]+')) AS t(w)
      WHERE w <> ''
    ),
    wc AS (
      SELECT token,
             CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb
      FROM tok GROUP BY token
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS v,
             CAST(sum(na) AS BIGINT) AS ta,
             CAST(sum(nb) AS BIGINT) AS tb
      FROM wc
    )
    SELECT tot.v AS n_types, tot.ta AS n_tokens_a, tot.tb AS n_tokens_b,
           round(sum(
             ((wc.na + 1.0) / (tot.ta + tot.v))
             * ln(((wc.na + 1.0) / (tot.ta + tot.v))
                  / ((wc.nb + 1.0) / (tot.tb + tot.v)))
           ), 6) AS kl_ab,
           round(sum(
             ((wc.nb + 1.0) / (tot.tb + tot.v))
             * ln(((wc.nb + 1.0) / (tot.tb + tot.v))
                  / ((wc.na + 1.0) / (tot.ta + tot.v)))
           ), 6) AS kl_ba
    FROM wc, tot
    GROUP BY tot.v, tot.ta, tot.tb
    """,
)
def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-KL CORPUS DRIFT (r11) — the distribution-shift monitor a
    growing corpus needs: add-one-smoothed KL divergence (both
    directions) between the word distributions of two corpus halves
    (content-keyed doc_id % 2 — rerun-stable like every split here).
    Near-zero KL means the halves are exchangeable; a jump flags a
    crawl-composition change. Counts and totals are exact BIGINTs;
    the KL sums are doubles absorbed by round-6 (the gmean
    precedent) — both engines build each term from the same exact
    integers with the same expression shape.

    Scale shape: ONE vocabulary hash aggregate with two conditional
    counts (no join between the halves — the split lives inside the
    aggregate), a 1-row totals frame, one KL aggregate over the
    vocab-bounded table. The same cells are batch-mergeable, so the
    drift gauge has the TermStatsStore-style incremental form if a
    monitor needs it."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        (F.col("doc_id") % 2).alias("s"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z]+"),
                lambda w: w != "",
            )
        ).alias("token"),
    )
    wc = tok.groupBy("token").agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    tot = wc.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nb").cast("bigint").alias("tb"),
    )
    j = wc.join(F.broadcast(tot))
    pa = (F.col("na") + F.lit(1.0)) / (F.col("ta") + F.col("v"))
    pb = (F.col("nb") + F.lit(1.0)) / (F.col("tb") + F.col("v"))
    return j.groupBy("v", "ta", "tb").agg(
        F.round(F.sum(pa * F.log(pa / pb)), 6).alias("kl_ab"),
        F.round(F.sum(pb * F.log(pb / pa)), 6).alias("kl_ba"),
    ).select(
        F.col("v").alias("n_types"),
        F.col("ta").alias("n_tokens_a"),
        F.col("tb").alias("n_tokens_b"),
        "kl_ab",
        "kl_ba",
    )
