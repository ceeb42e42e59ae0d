"""Text-analysis operators for the training-data pipeline (SURVEY §2.11 L4).

All hot-path computation is JVM-side column expressions (split /
transform / aggregate / regexp) — no Python in the loop, so these run
inside whole-stage codegen and scale linearly with executors. The
rolling hash is plain modular arithmetic (h = h*131 + byte mod 1e9+7)
so independent engines can reproduce it exactly — the property the
dedup tier's MinHash builds on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..store import BatchStore

HASH_MOD = 1_000_000_007
HASH_MULT = 131

#: Tiny per-language stopword lists for the n-gram/stopword lang-id
#: heuristic. Deliberately small: the heuristic must be cheap at scale.
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "die", "das", "und", "ein"],
    "es": ["el", "la", "los", "que", "y"],
    "fr": ["le", "la", "les", "et", "un"],
    "zh": ["的", "是", "了", "在", "我"],
}

#: Priority order used to break score ties deterministically.
LANG_PRIORITY = ["en", "de", "es", "fr", "zh"]


#: The tokenizer's whitespace class — explicit because Java \s
#: includes \x0B where RE2 does not; oracles must tokenize identically.
WS_CLASS = "[ \\t\\n\\r\\f\\x0B]"


def words(text: Column) -> Column:
    """Whitespace tokenization with empty-token removal.

    Deliberately NO trim: leading/trailing class-whitespace yields
    empty tokens the filter removes, and every engine's native trim
    strips a DIFFERENT set (Java <= U+0020, DuckDB Unicode
    whitespace, Python str.strip Unicode) — a \\xa0-leading doc would
    silently tokenize differently per engine if any trim ran first.
    """
    return F.filter(F.split(text, WS_CLASS + "+"), lambda w: w != "")


def ws_strip(text: Column) -> Column:
    """Strip ONLY the tokenizer's whitespace class from both ends.

    The engine-portable trim: Java ``trim`` (chars <= U+0020), DuckDB
    ``trim`` (Unicode whitespace), and Python ``str.strip`` each eat
    different character sets; this anchored regexp is the same six
    characters everywhere.
    """
    return F.regexp_replace(
        text, f"^{WS_CLASS}+|{WS_CLASS}+$", ""
    )


def token_count(text: Column) -> Column:
    return F.size(words(text))


def bpe_ish_tokens(text: Column) -> Column:
    """BPE-ish regex tokenization: letter runs, digit runs, other marks."""
    return F.regexp_extract_all(
        text,
        F.lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\r\\f\\x0B]"),
        F.lit(0),
    )


def rolling_hash(text: Column) -> Column:
    """Deterministic polynomial rolling hash of a string (fingerprint).

    h_0 = 0; h_i = (h_{i-1} * 131 + ascii(c_i)) mod 1e9+7. Exactly
    reproducible in any engine with 64-bit integer arithmetic.
    """
    return F.aggregate(
        F.split(text, ""),
        F.lit(0).cast("long"),
        lambda h, c: (h * HASH_MULT + F.ascii(c)) % HASH_MOD,
    )


def md5_hash(text: Column) -> Column:
    """Codegen'd 60-bit string hash: first 15 hex chars of md5 → int64,
    reduced mod 1e9+7.

    The scale-path hash for per-word hashing in the dedup tier:
    ``md5``/``conv`` are JVM built-ins evaluated natively, ~20× faster
    than the per-character interpreted fold in :func:`rolling_hash`,
    and byte-identical across engines (DuckDB:
    ``('0x'||substr(md5(s),1,15))::BIGINT % 1000000007``).
    """
    return (
        F.conv(F.substring(F.md5(text), 1, 15), 16, 10).cast("long")
        % HASH_MOD
    )


def fingerprint(text: Column, prefix_chars: int = 256) -> Column:
    """Document fingerprint: rolling hash of the normalized prefix
    (class-stripped via :func:`ws_strip` so every engine normalizes
    the same characters)."""
    return rolling_hash(
        F.substring(F.lower(ws_strip(text)), 1, prefix_chars)
    )


def segment_texts(ws: Column, seg_words: int) -> Column:
    """Fixed-width word-window segmentation: the token array cut into
    consecutive non-overlapping ``seg_words``-word chunks, each joined
    back to a string.

    The segment unit for cross-document boilerplate removal (the
    line-dedup idea from RefinedWeb-style pipelines, restated over a
    corpus whose documents carry no newlines). Pure array arithmetic —
    no explode, no shuffle — so segmentation itself is free; only the
    df-count over segment hashes aggregates.
    """
    n_segs = F.ceil(F.size(ws) / F.lit(float(seg_words))).cast("long")
    return F.when(F.size(ws) > 0, F.transform(
        F.sequence(F.lit(0).cast("long"), n_segs - 1),
        lambda k: F.concat_ws(
            " ", F.slice(ws, (k * seg_words + 1).cast("int"), seg_words)
        ),
    )).otherwise(F.array().cast("array<string>"))


def stopword_count(text_words: Column, stopwords: list[str]) -> Column:
    return F.size(F.filter(text_words, lambda w: F.lower(w).isin(*stopwords)))


def lang_scores(text_words: Column) -> dict[str, Column]:
    return {
        lang: stopword_count(text_words, sw) for lang, sw in LANG_STOPWORDS.items()
    }


def lang_id(text: Column) -> Column:
    """Stopword-vote language ID with deterministic tie-breaking.

    argmax over per-language stopword hit counts; ties resolve in
    LANG_PRIORITY order. A heuristic, not a model — the point is the
    shape: pure column expressions, trivially distributable.
    """
    ws = words(text)
    scores = lang_scores(ws)
    best = F.greatest(*scores.values())
    expr = F.lit(LANG_PRIORITY[-1])
    for lang in reversed(LANG_PRIORITY[:-1]):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return expr


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation / stopword-ratio quality features (L4)."""
    ws = words(text)
    n_tokens = F.size(ws)
    n_chars = F.length(text)
    en_stop = stopword_count(ws, LANG_STOPWORDS["en"])
    punct = n_chars - F.length(
        F.regexp_replace(text, "[^\\w \\t\\n\\r\\f\\x0B]", "")
    )
    return {
        "n_tokens": n_tokens,
        "n_chars": n_chars,
        "avg_token_len": (
            (n_chars - n_tokens + 1).cast("double") / n_tokens.cast("double")
        ),
        "punct_ratio": punct.cast("double") / n_chars.cast("double"),
        "stopword_ratio": en_stop.cast("double") / n_tokens.cast("double"),
    }


def quality_score(text: Column) -> Column:
    """Composite quality score in [0,1]-ish: rewards stopword density
    and moderate length, penalizes punctuation noise."""
    f = quality_features(text)
    length_term = F.least(f["n_tokens"].cast("double") / F.lit(100.0), F.lit(1.0))
    return F.round(
        0.5 * f["stopword_ratio"] + 0.4 * length_term - 0.1 * f["punct_ratio"],
        6,
    )


#: PII patterns shared verbatim with the DuckDB oracle — kept inside
#: the Java-regex ∩ RE2 common subset (no lookaround, no backrefs) so
#: both engines match identically. Training-data scrubbing is a
#: standard pre-training step; these are the three classic easy hits.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\d{3}[-.]\d{3}[-.]\d{4}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-category PII match counts (codegen regexp, no UDF)."""
    return {
        name: F.regexp_count(text, F.lit(pat))
        for name, pat in PII_PATTERNS.items()
    }


def pii_redact(text: Column) -> Column:
    """Replace every PII match with a typed tag, in fixed category
    order (email → phone → ipv4; order matters where patterns could
    overlap, so the oracle applies the same sequence)."""
    out = text
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def repetition_profile(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, n_words, n_distinct, distinct_ratio, max_freq_ratio):
    word-repetition quality signals — degenerate machine-generated or
    boilerplate text shows low distinct_ratio / high max_freq_ratio.

    One explode → (id, word)-count → per-doc aggregate chain: the
    doc-level totals (Σcnt, #distinct, max cnt) all derive from the
    word-count table, so no second pass over the text and no join.
    Shuffle rows are (id, word-hash)-sized; documents never move.
    """
    wc = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(words(F.col(text_col))).alias("w"),
        )
        .groupBy("id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        wc.groupBy("id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("cnt").alias("max_freq"),
        )
        .select(
            "id",
            "n_words",
            "n_distinct",
            F.round(
                F.col("n_distinct") / F.col("n_words"), 6
            ).alias("distinct_ratio"),
            F.round(F.col("max_freq") / F.col("n_words"), 6).alias(
                "max_freq_ratio"
            ),
        )
    )


def boilerplate_scrub(
    docs,
    seg_words: int = 8,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Cross-document boilerplate removal over fixed word segments.

    A segment appearing verbatim in >= min_df distinct documents is
    template noise and is cut from every doc; cleaned text is
    reassembled in segment order. See q_boilerplate_scrub for the
    oracle and the measured plan trade-offs.
    """
    segs = docs.select(
        id_col,
        F.posexplode(
            segment_texts(words(F.col(text_col)), seg_words)
        ).alias("seg_idx", "seg_text"),
    ).withColumn("seg_hash", md5_hash(F.col("seg_text")))
    freq = (
        segs.groupBy("seg_hash")
        .agg(F.count_distinct(id_col).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("seg_hash", F.lit(True).alias("__boiler"))
    )
    flagged = segs.join(freq, "seg_hash", "left").withColumn(
        "__boiler", F.coalesce(F.col("__boiler"), F.lit(False))
    )
    kept = F.array_sort(
        F.collect_list(
            F.when(
                ~F.col("__boiler"),
                F.struct(F.col("seg_idx"), F.col("seg_text")),
            )
        )
    )
    agg = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.when(F.col("__boiler"), 1).otherwise(0)).alias("n_dropped"),
        F.concat_ws(
            " ", F.transform(kept, lambda x: x["seg_text"])
        ).alias("clean_text"),
    )
    # empty-text docs produce no segments and would vanish from the
    # aggregate — a downstream inner join would silently shrink the
    # corpus. Rejoin so every input doc has a row.
    return docs.select(id_col).join(agg, id_col, "left").select(
        id_col,
        F.coalesce("n_segs", F.lit(0).cast("long")).alias("n_segs"),
        F.coalesce("n_dropped", F.lit(0).cast("long")).alias("n_dropped"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


def bigram_lm_scores(
    docs,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Per-doc average log-probability under a corpus-trained
    add-alpha bigram model (the CCNet perplexity-filter shape). See
    q_quality_lm for the oracle and scale notes."""
    w = docs.select(id_col, words(F.col(text_col)).alias("ws"))
    vsz = (
        w.select(F.explode("ws").alias("word"))
        .agg(F.count_distinct("word"))
        .collect()[0][0]
    )
    # bigram array as a zip of shifted slices (r14): one native
    # arrays_zip instead of two interpreted element_at lambda calls
    # per position — same (ws[i], ws[i+1]) pairs, interleaved-A/B'd
    # at sf0.1: 0.93 s -> 0.78 s median for the full score pipeline
    n_ws = F.size("ws")
    bg_arr = F.arrays_zip(
        F.slice(F.col("ws"), 1, n_ws - 1).alias("w1"),
        F.slice(F.col("ws"), 2, n_ws - 1).alias("w2"),
    )
    bg = (
        w.filter(F.size("ws") >= 2)
        .select(id_col, F.explode(bg_arr).alias("b"))
        .select(id_col, "b.w1", "b.w2")
    )
    uni = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bi = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    d = bg.groupBy(id_col, "w1", "w2").agg(F.count(F.lit(1)).alias("k"))
    lp = F.log(
        (F.col("c12") + F.lit(alpha))
        / (F.col("c1") + F.lit(alpha) * F.lit(float(vsz)))
    )
    return (
        d.join(bi, ["w1", "w2"])
        .join(uni, ["w1"])
        .groupBy(id_col)
        .agg(
            F.sum("k").alias("n_bigrams"),
            F.round(F.sum(F.col("k") * lp) / F.sum("k"), 6).alias(
                "avg_logp"
            ),
        )
    )


def importance_weights(
    docs,
    target_source: str,
    alpha: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
):
    """DSIR-style per-doc importance weight: average log-ratio of a
    target-domain unigram model vs the raw-corpus model. See
    q_importance_weight for the oracle and scale notes."""
    tok = docs.select(
        id_col, source_col, F.explode(words(F.col(text_col))).alias("word")
    )
    nt, nr, v = tok.agg(
        F.sum(
            F.when(F.col(source_col) == target_source, 1).otherwise(0)
        ),
        F.count(F.lit(1)),
        F.count_distinct("word"),
    ).collect()[0]
    if not nr:  # empty/whitespace-only corpus: F.sum yields None
        raise ValueError(
            "importance_weights: corpus has no tokens — nothing to model"
        )
    nt = nt or 0
    tgt = (
        tok.filter(F.col(source_col) == target_source)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    raw = tok.groupBy("word").agg(F.count(F.lit(1)).alias("cr"))
    d = tok.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("k"))
    a = F.lit(alpha)
    lr = F.log(
        (F.coalesce(F.col("ct"), F.lit(0)) + a) / F.lit(nt + alpha * v)
    ) - F.log((F.col("cr") + a) / F.lit(nr + alpha * v))
    return (
        d.join(raw, "word")
        .join(tgt, "word", "left")
        .groupBy(id_col)
        .agg(
            F.sum("k").alias("n_tokens"),
            F.round(F.sum(F.col("k") * lr) / F.sum("k"), 6).alias("logw"),
        )
    )


#: Ceiling for hash_embed's one-aggregate form: dim conditional-sum
#: buffers cost O(dim) per exploded token row, which beats the extra
#: exchange up to a few hundred components (declared queries use 64)
#: and loses badly in the thousands.
_ONE_AGG_MAX_DIM = 256


def _embed_cells_one_agg(signed, id_col: str, dim: int):
    """dim agg buffers in ONE groupBy(id) — no (id, k) exchange."""
    return signed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("k") == i, F.col("sv")).otherwise(F.lit(0))
            ).alias(f"__c{i}")
            for i in range(dim)
        ]
    )


def _embed_cells_two_stage(signed, id_col: str, dim: int):
    """(id, k) partial sums, then pivoted to the same __c{i} columns.

    O(1) per exploded row at any dim, one more exchange; the map
    lookup per component happens on the per-doc row, not per token.
    """
    per_cell = signed.groupBy(id_col, "k").agg(
        F.sum("sv").alias("__cell")
    )
    m = F.map_from_entries(
        F.collect_list(F.struct(F.col("k"), F.col("__cell")))
    )
    return per_cell.groupBy(id_col).agg(m.alias("__m")).select(
        id_col,
        *[
            F.element_at(F.col("__m"), F.lit(i)).alias(f"__c{i}")
            for i in range(dim)
        ],
    )


def hash_embed(
    docs,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_col: str | None = None,
):
    """Feature-hashing text embedding (the hashing trick): component
    k = sum of signed word counts whose 60-bit hash lands on k, with
    an independent hash choosing the sign. All-integer components
    (stored as double, hence exact), so the embedding — and every
    downstream cosine/sign-LSH step — replays bit-for-bit in SQL.

    The DSIR paper's hashed n-gram features and classic
    HashingVectorizer are this shape; at 100 TB it is one explode +
    one hash aggregate + a map build, constant dim*8 bytes/doc out.
    (r5: the former per-(doc, word) count stage is folded away — a
    per-OCCURRENCE signed ±1 sums to exactly sign(word)·count in
    integer arithmetic, so one whole shuffle+aggregate disappears and
    the surviving shuffle carries ≤ dim partial cells per doc instead
    of one row per distinct word.)

    ``words_col`` (r12, VERDICT_r11 #2) names a pre-computed
    ``words(text)`` array column on ``docs`` so a multi-consumer
    caller (q_search_rrf) can tokenize the corpus ONCE into a
    persisted projection; the embedding arithmetic is identical.
    """
    toks = (
        F.col(words_col) if words_col is not None
        else words(F.col(text_col))
    )
    signed = docs.select(
        id_col, F.explode(toks).alias("word")
    ).select(
        id_col,
        (md5_hash(F.col("word")) % dim).cast("int").alias("k"),
        F.when(
            md5_hash(F.concat(F.lit("s:"), F.col("word"))) % 2 == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("sv"),
    )
    # ONE hash aggregate straight to the id (r14): component k is a
    # conditional integer sum, so the dim components become dim agg
    # buffers of a single groupBy(id) — partial aggregation collapses
    # the exploded rows map-side and the former second exchange
    # ((id, k) cells -> per-id map) disappears. Values are the same
    # exact integer sums; interleaved-A/B'd at sf0.1 (0.69 -> 0.65 s
    # median embed pipeline, one less shuffle at any scale).
    # VERDICT_r14 #2 guard: the dim conditional-sum buffers evaluate
    # per exploded token row, so per-row work is O(dim) — a win at the
    # declared dim=64 but silently quadratic-ish if a caller passes
    # dim in the thousands. Above _ONE_AGG_MAX_DIM fall back to the
    # two-stage (id, k) chain (O(1) per row + one more exchange);
    # tests/test_hash_embed_dim.py proves both forms bit-identical.
    if dim <= _ONE_AGG_MAX_DIM:
        cells = _embed_cells_one_agg(signed, id_col, dim)
    else:
        cells = _embed_cells_two_stage(signed, id_col, dim)
    vec = F.array(
        *[
            F.coalesce(F.col(f"__c{i}"), F.lit(0)).cast("double")
            for i in range(dim)
        ]
    )
    # docs with zero tokens produce no cells — rejoin so every doc
    # keeps a (zero-vector) row
    zero = F.array(*[F.lit(0.0) for _ in range(dim)])
    return (
        docs.select(id_col)
        .join(cells.withColumn("__has", F.lit(1)), id_col, "left")
        .select(
            id_col,
            F.when(F.col("__has").isNotNull(), vec)
            .otherwise(zero)
            .alias("embedding"),
        )
    )


# ----------------------------------------------------------------------
# L28/L29: web-corpus extraction — markup strip + URL/domain harvest
# ----------------------------------------------------------------------
#: One HTML tag: '<' + optional [!/] + a letter-led body up to the
#: first '>'. The Java ∩ RE2 ∩ DuckDB regexp subset (the PII_PATTERNS
#: discipline) — a regex-tier cleaner in the C4 shape, NOT a browser
#: parser: a '>' inside an attribute or comment ends the match early,
#: documented boundary.
TAG_PATTERN = r"</?[A-Za-z!][^>]*>"

#: Named/fixed entities decoded after tag removal, in this order —
#: '&amp;' LAST so '&amp;lt;' decodes once to '&lt;' (standard
#: single-pass semantics), never twice to '<'.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

#: URL shape: scheme + host (group 1) + optional path. RE2-safe.
URL_PATTERN = r"https?://([A-Za-z0-9.-]+)(/[^ \t\n\r\f\x0B]*)?"


def strip_markup(text: Column) -> Column:
    """HTML/markup → text: drop tags, decode the common entities,
    collapse whitespace runs, trim — the extraction step every web
    corpus runs before any other gate (C4's cleanup tier). Entirely
    codegen regexp/replace, no UDF; byte-replayable in SQL."""
    t = F.regexp_replace(text, TAG_PATTERN, " ")
    for ent, rep in HTML_ENTITIES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    t = F.regexp_replace(t, WS_CLASS + "+", " ")
    return ws_strip(t)


def markup_profile(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, n_tags, n_entities, clean_text): the markup-strip pass
    plus the removal counts a crawl-hygiene dashboard tracks."""
    ent_count = None
    for ent, _ in HTML_ENTITIES:
        c = F.size(F.split(F.col("text"), F.lit(ent), -1)) - 1
        ent_count = c if ent_count is None else ent_count + c
    return docs.select(
        F.col(id_col).alias("id"),
        F.regexp_count(F.col("text"), F.lit(TAG_PATTERN)).alias("n_tags"),
        ent_count.alias("n_entities"),
        strip_markup(F.col("text")).alias("clean_text"),
    )


def url_domains(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, n_urls, domains): per-doc URL harvest — the
    blocklist/source-attribution front of a web pipeline (RefinedWeb's
    URL filtering). Domains are lowercased, per-doc order preserved."""
    urls = F.regexp_extract_all(F.col("text"), F.lit(URL_PATTERN), 1)
    return docs.select(
        F.col(id_col).alias("id"),
        F.size(urls).alias("n_urls"),
        F.transform(urls, F.lower).alias("domains"),
    )


# ----------------------------------------------------------------------
# Incremental BM25 corpus-stats store (the hybrid-retrieval serve path)
# ----------------------------------------------------------------------
class TermStatsStore(BatchStore):
    """Persistent incremental BM25 corpus-stats store (r10,
    VERDICT_r9 #7): hybrid retrieval's
    corpus statistics ``(n_docs, avgdl, per-term df)`` are all
    additive integer cells across doc-disjoint batches, so they grow
    batch-by-batch like every other trained artifact in this engine.
    Each ingested doc batch collapses to one batch partition of cells
    (storage contract: ``store.py``):

    - one row per DISTINCT term in the batch: ``(term, df, NULL,
      NULL)`` — df is the batch's distinct-doc count for the term
      (batches partition the corpus by doc, so df is additive);
    - one corpus row: ``(NULL, NULL, n_docs, token_sum)`` — the
      batch's doc count and summed document lengths (the avgdl
      numerator/denominator, both additive BIGINTs).

    The tokenizer is BM25's own (``split(lower(text), '[^a-z]+')``,
    dl = the split size) so the merged stats equal the batch
    ``bm25_scores`` in-plan aggregates EXACTLY; :meth:`bm25` feeds
    them through the same scoring expressions (the stats/dfreq
    overrides on ``advanced_queries.bm25_scores``), making serve ≡
    batch bit-for-bit (pytest). Per-batch state is
    corpus-vocabulary-bounded (one row per distinct term), never
    per-occurrence."""

    def add_batch(
        self, docs, batch_id: str, text_col: str = "text"
    ) -> int:
        """Collapse the batch to additive term/corpus cells and
        persist them as an idempotent partition directory. Returns
        distinct terms written."""
        toks = F.split(F.lower(F.col(text_col)), "[^a-z]+")
        lens = docs.select(
            F.col("doc_id"), F.size(toks).alias("dl")
        )
        term_cells = (
            docs.select("doc_id", F.explode(toks).alias("term"))
            .filter(F.col("term") != "")
            .distinct()
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
            .select(
                "term",
                "df",
                F.lit(None).cast("long").alias("n_docs"),
                F.lit(None).cast("long").alias("token_sum"),
            )
        )
        corpus_cell = lens.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").alias("token_sum"),
        ).select(
            F.lit(None).cast("string").alias("term"),
            F.lit(None).cast("long").alias("df"),
            "n_docs",
            F.coalesce(
                F.col("token_sum"), F.lit(0).cast("long")
            ).alias("token_sum"),
        )
        # minus the one corpus row
        return self._write(term_cells.unionByName(corpus_cell), batch_id) - 1

    def df_table(self):
        """Merged ``(term, df)`` over every ingested batch — exactly
        the full-corpus per-term distinct-doc counts by additivity."""
        return (
            self._merged()
            .filter(F.col("term").isNotNull())
            .groupBy("term")
            .agg(F.sum("df").alias("df"))
        )

    def stats(self):
        """Merged 1-row ``(n_docs double, avgdl double)`` — the BM25
        corpus stats. avgdl = token_sum/n_docs over exact BIGINT
        sums: identical to the batch ``avg(dl)`` (integer additions
        below 2^53 are exact in either accumulation order)."""
        return self._merged().agg(
            F.sum("n_docs").cast("double").alias("n_docs"),
            (
                F.sum("token_sum").cast("double")
                / F.sum("n_docs").cast("double")
            ).alias("avgdl"),
        )

    def bm25(self, docs, terms=None):
        """(doc_id, score): BM25 of ``docs`` (the ingested corpus, or
        any new batch) against the MERGED store statistics — the
        exact ``bm25_scores`` expressions fed by the store's cells
        instead of in-plan corpus aggregates. ``terms`` defaults to
        the engine's query terms."""
        from ..queries.advanced_queries import _SEARCH_TERMS, bm25_scores

        terms = list(_SEARCH_TERMS if terms is None else terms)
        dfreq = self.df_table().filter(F.col("term").isin(terms))
        return bm25_scores(
            docs, stats=self.stats(), dfreq=dfreq, terms=terms
        )
