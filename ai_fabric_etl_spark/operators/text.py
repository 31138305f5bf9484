"""Text analysis operators: tokenization, quality scoring, language
ID, fingerprinting. All JVM-side column expressions (no Python UDFs in
the hot path) so they stay inside whole-stage codegen at 100 TB.

Each metric has a ``*_from(toks)`` form taking a precomputed token
array so multi-metric passes (text_profile) tokenize once per row; the
plain forms wrap them for single-metric use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small indicator stopword sets per language for the n-gram/stopword
# language-ID heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "und", "die", "das", "nicht"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "los", "que", "y"),
    "zh": ("de", "shi", "le", "wo", "ni"),
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_estimate(col: Column) -> Column:
    """Sub-word-ish token estimate: words + punctuation runs, the
    standard cheap proxy for BPE token counts."""
    return F.regexp_count(col, F.lit(r"\w+|[^\w\s]"))


def stopword_count_from(toks: Column, stopwords=ENGLISH_STOPWORDS) -> Column:
    sw = F.array(*[F.lit(s) for s in stopwords])
    return F.size(F.array_intersect(F.array_distinct(toks), sw))


def quality_score_from(col: Column, toks: Column) -> Column:
    """Document quality score reusing the engine's canonical formula
    (silver_x12_parsing.py:1070): 100 - 20*issues - 5*warnings.

    issues: too-short documents (<10 tokens)
    warnings: very low char count (<100), no stopword hits (word-salad
    signal), extreme average token length (>12 chars)
    """
    n_tok = F.size(toks)
    n_chars = F.length(col)
    sw_hits = stopword_count_from(toks)
    avg_tok_len = F.when(n_tok > 0, n_chars / n_tok).otherwise(F.lit(0.0))
    issues = F.when(n_tok < 10, 1).otherwise(0)
    warnings = (
        F.when(n_chars < 100, 1).otherwise(0)
        + F.when(sw_hits == 0, 1).otherwise(0)
        + F.when(avg_tok_len > 12.0, 1).otherwise(0)
    )
    return F.greatest(F.lit(0), F.lit(100) - F.lit(20) * issues - F.lit(5) * warnings)


def quality_score(col: Column) -> Column:
    return quality_score_from(col, tokens(col))


def predict_lang_from(toks: Column) -> Column:
    """Stopword-indicator language ID: the language whose indicator
    set hits the document's distinct tokens most, ties broken by a
    fixed language order; 'und' (undetermined) when nothing hits."""
    distinct = F.array_distinct(toks)
    hit_cols = []
    for lang, words in LANG_STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        hit_cols.append((lang, F.size(F.array_intersect(distinct, sw))))
    # greatest hit count, first language in declaration order wins ties
    best = None
    best_score = None
    for lang, score in reversed(hit_cols):
        if best is None:
            best, best_score = F.lit(lang), score
        else:
            best = F.when(score >= best_score, F.lit(lang)).otherwise(best)
            best_score = F.when(score >= best_score, score).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def fingerprint_from(toks: Column) -> Column:
    """Full-document fingerprint: md5 of whitespace-normalized text."""
    return F.md5(F.concat_ws(" ", toks))


def fingerprint(col: Column) -> Column:
    return fingerprint_from(tokens(col))


def prefix_fingerprint_from(toks: Column, n_tokens: int = 8) -> Column:
    """Head fingerprint: md5 of the first N tokens — the cheap
    rolling-hash-style key for prefix-duplicate detection."""
    return F.md5(F.concat_ws(" ", F.slice(toks, 1, n_tokens)))


def prefix_fingerprint(col: Column, n_tokens: int = 8) -> Column:
    return prefix_fingerprint_from(tokens(col), n_tokens)


def text_profile(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text-analysis profile of a documents table: the token
    array is materialized once per row and every metric reads it."""
    c = F.col(text_col)
    pre = docs.select("doc_id", c.alias("_text"), tokens(c).alias("_toks"))
    t = F.col("_toks")
    txt = F.col("_text")
    return pre.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        bpe_ish_token_estimate(txt).alias("n_bpe_tokens"),
        F.length(txt).alias("n_chars_measured"),
        stopword_count_from(t).alias("stopword_hits"),
        quality_score_from(txt, t).alias("quality_score"),
        predict_lang_from(t).alias("predicted_lang"),
        fingerprint_from(t).alias("fingerprint"),
        prefix_fingerprint_from(t).alias("prefix_fingerprint"),
    )


# ---------------------------------------------------------------------------
# cleaning / redaction (training-data hygiene passes)
# ---------------------------------------------------------------------------

# regex fragments chosen for cross-engine portability: plain character
# classes and quantifiers only (identical semantics in Java regex and
# DuckDB's RE2), so the oracle can run the same patterns
_RE_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_RE_IPV4 = r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"
# \+? BEFORE the \b: a word boundary can't sit between a space and
# '+', so a leading \b would make the match start at the first digit
# and leave '+' unredacted
_RE_PHONE = r"\+?\b[0-9][0-9()\-. ]{7,}[0-9]\b"
_RE_URL = r"https?://[^\s]+"
_RE_CONTROL = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def clean_text(col: Column) -> Column:
    """Normalization pass: strip control characters, collapse
    whitespace runs to single spaces, trim. Pure JVM regexp — stays in
    codegen at 100 TB."""
    no_ctrl = F.regexp_replace(col, _RE_CONTROL, "")
    collapsed = F.regexp_replace(no_ctrl, r"\s+", " ")
    return F.trim(collapsed)


def redact_pii(col: Column) -> Column:
    """PII redaction: URLs, emails, IPv4 addresses, phone-like number
    runs replaced with typed placeholder tokens (URL first so its
    host/path can't be re-matched as a phone/IP)."""
    out = F.regexp_replace(col, _RE_URL, "<URL>")
    out = F.regexp_replace(out, _RE_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, _RE_IPV4, "<IP>")
    out = F.regexp_replace(out, _RE_PHONE, "<PHONE>")
    return out


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-category PII hit counts (for filtering/reporting)."""
    return {
        "n_urls": F.regexp_count(col, F.lit(_RE_URL)),
        "n_emails": F.regexp_count(col, F.lit(_RE_EMAIL)),
        "n_ipv4": F.regexp_count(col, F.lit(_RE_IPV4)),
    }


# ---------------------------------------------------------------------------
# within-document repetition (Gopher-style quality signals)
# ---------------------------------------------------------------------------


def repetition_profile(
    docs: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document repetition signals used to filter low-quality /
    degenerate training text:

    - ``dup_ngram_frac``: fraction of word n-gram positions whose
      n-gram also occurs earlier in the document (1 - distinct/total)
    - ``top_word_share``: share of all token positions taken by the
      single most frequent token (a run-on "the the the ..." document
      scores near 1.0)

    Scale plan: dup_ngram_frac is pure per-row expression work (no
    shuffle). top_word_share needs a per-(doc, token) count → explode
    + two-level aggregate, both keyed by doc_id so the second agg is
    map-side-combinable and linear in corpus token count — never a
    per-doc O(vocab·tokens) quadratic loop.
    """
    from ai_fabric_etl_spark.operators.dedup import shingles

    c = F.col(text_col)
    base = docs.select(
        "doc_id",
        F.size(tokens(c)).alias("n_tokens"),
        F.size(shingles(c, n)).alias("n_distinct_ngrams"),
    ).withColumn(
        "n_ngrams", F.greatest(F.col("n_tokens") - n + 1, F.lit(1))
    ).withColumn(
        "dup_ngram_frac",
        F.round(1.0 - F.col("n_distinct_ngrams") / F.col("n_ngrams"), 6),
    )

    tok_counts = (
        docs.select("doc_id", F.explode(tokens(c)).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("top_word_count"))
    )
    return (
        base.join(tok_counts, "doc_id", "left")
        .withColumn(
            "top_word_share",
            F.round(
                F.coalesce(F.col("top_word_count"), F.lit(0)) / F.col("n_tokens"), 6
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_ngrams",
            "n_distinct_ngrams",
            "dup_ngram_frac",
            "top_word_count",
            "top_word_share",
        )
    )


# ---------------------------------------------------------------------------
# composite quality gate (C4/Gopher-style document filtering)
# ---------------------------------------------------------------------------

QUALITY_RULES = {
    "wc_ok": "token count in [min_tokens, max_tokens]",
    "mwl_ok": "mean word length in [min_mwl, max_mwl]",
    "stop_ok": "stopword occurrence fraction >= min_stop_frac",
    "rep_ok": "top-word share <= max_top_word_share",
    "dup_ok": "duplicate n-gram fraction <= max_dup_ngram_frac",
}


def quality_filter(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 30,
    max_tokens: int = 100_000,
    min_mwl: float = 3.0,
    max_mwl: float = 5.0,
    min_stop_frac: float = 0.02,
    max_top_word_share: float = 0.15,
    max_dup_ngram_frac: float = 0.1,
) -> DataFrame:
    """C4/Gopher-style composite document-quality gate: evaluate the
    five named rules (QUALITY_RULES) per document and emit each flag
    plus ``keep`` (their conjunction), alongside the measured signals
    — the standard pre-training corpus filter.

    Scale plan: every signal except top-word share is per-row
    expression work fused into one projection (no shuffle); the
    top-word/dup-ngram signals ride repetition_profile's single
    doc_id-keyed explode+agg. One shuffle total at any corpus size,
    and the boolean gate composes with downstream dedup without
    materializing the rejected rows.
    """
    c = F.col(text_col)
    rep = repetition_profile(docs, text_col=text_col)
    sw = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    toks = tokens(c)
    char_sum = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    signals = docs.select(
        "doc_id",
        F.round(char_sum / F.size(toks), 6).alias("mean_word_len"),
        F.round(
            F.size(F.filter(toks, lambda x: F.array_contains(sw, x)))
            / F.size(toks),
            6,
        ).alias("stop_frac"),
    )
    flags = (
        rep.join(signals, "doc_id")
        .withColumn(
            "wc_ok", F.col("n_tokens").between(min_tokens, max_tokens)
        )
        .withColumn(
            "mwl_ok", F.col("mean_word_len").between(min_mwl, max_mwl)
        )
        .withColumn("stop_ok", F.col("stop_frac") >= min_stop_frac)
        .withColumn("rep_ok", F.col("top_word_share") <= max_top_word_share)
        .withColumn("dup_ok", F.col("dup_ngram_frac") <= max_dup_ngram_frac)
    )
    keep = (
        F.col("wc_ok")
        & F.col("mwl_ok")
        & F.col("stop_ok")
        & F.col("rep_ok")
        & F.col("dup_ok")
    )
    return flags.select(
        "doc_id",
        "n_tokens",
        "mean_word_len",
        "stop_frac",
        "top_word_share",
        "dup_ngram_frac",
        "wc_ok",
        "mwl_ok",
        "stop_ok",
        "rep_ok",
        "dup_ok",
        keep.alias("keep"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    RAG/pretraining chunker: whitespace tokens, windows of
    ``chunk_tokens`` advancing by ``chunk_tokens − overlap``, last
    window keeps the tail (never empty, never out of range). Output:
    (id, chunk_id, n_chunk_tokens, chunk_text), chunk_id 0-based.

    Entirely expression-side: the token array is built once, window
    starts come from ``sequence()`` (rows ∝ chunks, no self-join, no
    UDF), and each chunk is a ``slice`` + ``array_join`` inside one
    whole-stage-codegen projection — at 100 TB the only cost above
    the scan is the explode's row multiplication, which IS the
    output."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens, got {overlap}/{chunk_tokens}"
        )
    step = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    # window starts: 1, 1+step, ... while start <= max(n - overlap, 1)
    starts = F.sequence(
        F.lit(1),
        F.greatest(n - F.lit(overlap), F.lit(1)),
        F.lit(step),
    )
    return (
        df.select(F.col(id_col), toks.alias("_t"), starts.alias("_starts"))
        .select(
            id_col,
            F.posexplode("_starts").alias("chunk_id", "_start"),
            F.col("_t"),
        )
        .select(
            id_col,
            "chunk_id",
            F.slice(F.col("_t"), F.col("_start"), F.lit(chunk_tokens)).alias(
                "_chunk"
            ),
        )
        .select(
            id_col,
            "chunk_id",
            F.size("_chunk").alias("n_chunk_tokens"),
            F.array_join("_chunk", " ").alias("chunk_text"),
        )
    )


def bigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained bigram language-model scoring — the CCNet-style
    LM-perplexity quality signal (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets", LREC 2020 use a KenLM; the
    bigram model here is the same signal at the complexity SQL can
    verify): documents whose token transitions are improbable under
    the corpus's own statistics (gibberish, boilerplate soup, wrong
    language) score high and get filtered.

    Model: add-half smoothing, P(w2|w1) = (c(w1,w2) + 0.5) /
    (c(w1) + 0.5·V) with V = distinct vocab size. Output per doc:
    ``(id, n_bigrams, avg_nll_micro)`` — the mean negative natural
    log-probability of the doc's bigrams in INTEGER micro-nats
    (half-up; perplexity = exp(avg_nll_micro/1e6), left to the
    caller). Integer output keeps the contract free of any float
    rounding boundary.

    Float discipline (the repo's PMI pattern): each probability is the
    EXACT integer ratio (2c+1)/(2u+V) — numerator and denominator are
    integers, so the division is one IEEE op on both engines — the
    single ln result rounds to 6 decimals, the per-doc total sums as
    DECIMAL(38,6) (exact, order-free), and the final mean is one
    division + round.

    Scale: two count aggregations (bigram, unigram — one corpus pass
    each), V collapses to a driver scalar, then the doc's bigram
    stream joins the count tables on their natural keys (shuffle hash
    joins; hot boilerplate bigrams split under AQE) and folds per doc.
    Everything stays JVM-side codegen; no UDFs."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(
        F.col(id_col).alias("_doc"), toks.alias("_t")
    ).withColumn("_n", F.size("_t"))
    pairs = base.where(F.col("_n") >= 2).select(
        "_doc",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("_n") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("_t"), i).alias("w1"),
                    F.element_at(F.col("_t"), i + 1).alias("w2"),
                ),
            )
        ).alias("_bg"),
    ).select("_doc", F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    uni = (
        base.select(F.explode("_t").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("_u"))
    )
    vocab_v = uni.count()  # driver scalar (bounded: |vocab| << corpus)
    big = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c"))
    term = F.round(
        F.log(
            (2 * F.col("_c") + 1).cast("double")
            / (2 * F.col("_u") + F.lit(int(vocab_v))).cast("double")
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        pairs.join(big, ["w1", "w2"])
        .join(uni, "w1")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(term).cast("decimal(38,6)").alias("_s"),
        )
    )
    # final mean in INTEGER micro-nats with explicit half-up division:
    # round(-s/n, 6) lands on exact .5 boundaries whenever n divides
    # the 6-dp sum oddly (frequent), and Spark/DuckDB round doubles at
    # the boundary differently (observed at sf0.1). S = -s*1e6 is an
    # exact integer, (2S+n) div (2n) is the half-up quotient, and the
    # double division (2S+n)/(2n) is floor-safe: the nearest
    # non-integer rational is 1/(2n) from any integer, orders of
    # magnitude above one ulp.
    s_micro = (-F.col("_s") * 1_000_000).cast("long")
    avg_micro = F.floor(
        (2 * s_micro + F.col("n_bigrams"))
        / (2 * F.col("n_bigrams"))
    ).cast("long")
    return base.join(scored, "_doc", "left").select(
        F.col("_doc").alias(id_col),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        avg_micro.alias("avg_nll_micro"),
    )


def trigram_lm_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    holdout_mod: int = 5,
) -> DataFrame:
    """Trigram language model with STUPID BACKOFF (Brants et al.,
    "Large Language Models in Machine Translation", EMNLP 2007 — the
    smoothing Google used precisely BECAUSE it needs no held-out
    tuning and distributes as plain count tables), scoring a holdout
    split against the train split's statistics. This is the
    higher-order sibling of :func:`bigram_lm_scores`: where the bigram
    entry trains and scores on the same corpus (every transition seen,
    no backoff path exercised), the 80/20 split here makes unseen
    trigrams/bigrams/unigrams REAL, so all three backoff branches are
    live and value-verified.

    Score per holdout trigram (w1, w2, w3), S(.) in ln-space:
      - trigram seen in train:  ln(c(w1w2w3) / c(w1w2))
      - else bigram seen:       ln(0.4 * c(w2w3) / c(w2))
      - else (OOV-safe base):   ln(0.16 * (2*c(w3)+1) / (2*N + V))
    0.4 is the paper's backoff multiplier (0.16 = 0.4^2 for the double
    backoff); the base case is the add-half unigram so an OOV word
    still scores finitely. Output per holdout doc:
    ``(id, n_trigrams, avg_nll_micro)`` — mean negative log-prob in
    half-up INTEGER micro-nats (the bigram entry's float discipline:
    each branch is one IEEE expression evaluated in the same order on
    both engines, rounded to 6 dp, summed as DECIMAL(38,6)).

    Scale: three count aggregations over the train split (unigram,
    bigram, trigram — each one shuffle); N and V collapse to driver
    scalars; scoring joins the holdout trigram stream to the count
    tables on their natural keys (vocabulary-sized shuffle hash joins,
    deliberately not broadcast; hot function-word keys split under
    AQE) and folds per doc. No UDFs anywhere.

    The holdout split is the repo's md5-bucket idiom (r10; was
    ``_doc % holdout_mod``, which required numeric ids):
    ``('0x' || substr(md5(id || '-trigram'), 1, 15)) % holdout_mod``
    — replayable in ANSI SQL, deterministic, and string ids are
    first-class (NULL ids hash as '__NULL__', the hash_split
    convention)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    k = F.coalesce(F.col("_doc").cast("string"), F.lit("__NULL__"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(k, F.lit("-trigram")).cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("long")
        % holdout_mod
    )
    base = docs.select(
        F.col(id_col).alias("_doc"), toks.alias("_t")
    ).withColumn("_n", F.size("_t"))
    train = base.where(bucket != 0)
    test = base.where(bucket == 0)

    uni = (
        train.select(F.explode("_t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("_u"))
    )
    # driver scalars, both bounded, in ONE build-time job: every token
    # explodes to exactly one unigram row, so N = sum(_u) — the
    # separate sum(size(_t)) pass over train this used to run is the
    # same number (NULL text explodes to nothing and sums as NULL;
    # empty text tokenizes to [''] on both routes)
    trow = uni.agg(
        F.count(F.lit(1)).alias("v"), F.sum("_u").alias("s")
    ).collect()[0]
    n_tokens = int(trow["s"] or 0)
    vocab_v = int(trow["v"])

    def _grams(df: DataFrame, order: int) -> DataFrame:
        cols = [f"w{j + 1}" for j in range(order)]
        return (
            df.where(F.col("_n") >= order)
            .select(
                "_doc",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.col("_n") - (order - 1)),
                        lambda i: F.struct(
                            *[
                                F.element_at(F.col("_t"), i + j).alias(
                                    f"w{j + 1}"
                                )
                                for j in range(order)
                            ]
                        ),
                    )
                ).alias("_g"),
            )
            .select("_doc", *[F.col(f"_g.{c}").alias(c) for c in cols])
        )

    big = _grams(train, 2).groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("_c2")
    )
    tri = _grams(train, 3).groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("_c3")
    )
    tg = _grams(test, 3)

    joined = (
        tg.join(tri, ["w1", "w2", "w3"], "left")
        .join(big.withColumnRenamed("_c2", "_c12"), ["w1", "w2"], "left")
        .join(
            big.select(
                F.col("w1").alias("w2"),
                F.col("w2").alias("w3"),
                F.col("_c2").alias("_c23"),
            ),
            ["w2", "w3"],
            "left",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("_u").alias("_u2")),
            "w2",
            "left",
        )
        .join(
            uni.select(F.col("w").alias("w3"), F.col("_u").alias("_u3")),
            "w3",
            "left",
        )
    )
    term = (
        F.when(
            F.col("_c3").isNotNull(),
            F.round(
                F.log(
                    F.col("_c3").cast("double")
                    / F.col("_c12").cast("double")
                ),
                6,
            ),
        )
        .when(
            F.col("_c23").isNotNull(),
            F.round(
                F.log(
                    F.lit(0.4)
                    * F.col("_c23").cast("double")
                    / F.col("_u2").cast("double")
                ),
                6,
            ),
        )
        .otherwise(
            F.round(
                F.log(
                    F.lit(0.16)
                    * (2 * F.coalesce(F.col("_u3"), F.lit(0)) + 1).cast(
                        "double"
                    )
                    / F.lit(2 * n_tokens + vocab_v).cast("double")
                ),
                6,
            )
        )
        .cast("decimal(18,6)")
    )
    scored = joined.groupBy("_doc").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum(term).cast("decimal(38,6)").alias("_s"),
    )
    s_micro = (-F.col("_s") * 1_000_000).cast("long")
    avg_micro = F.floor(
        (2 * s_micro + F.col("n_trigrams")) / (2 * F.col("n_trigrams"))
    ).cast("long")
    return test.join(scored, "_doc", "left").select(
        F.col("_doc").alias(id_col),
        F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
        avg_micro.alias("avg_nll_micro"),
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 1,
) -> DataFrame:
    """Line/paragraph-level corpus dedup (the CCNet/RefinedWeb
    boilerplate pass): a line whose trimmed form appears in MORE THAN
    ONE document is boilerplate (headers, footers, cookie banners,
    nav text) and is removed from every document; remaining lines
    keep their original order. Returns
    ``(id, n_lines, n_removed, clean_text)``.

    This is the between-documents complement of repetition_profile
    (within-document) and duplicate_span_coverage (sub-line spans).

    Scale plan: lines posexplode linearly; the cross-doc flag is ONE
    groupBy on the trimmed line (min(doc) != max(doc) — no distinct
    state); removal is a left-anti shuffle join on the line key (AQE
    splits the hot boilerplate keys — precisely the skewed ones);
    reassembly sorts each doc's surviving lines inside a
    co-partitioned aggregation buffer (bounded by document size).
    Lines shorter than ``min_len`` after trim are never candidates
    (blank separators are structure, not boilerplate)."""
    lines = docs.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("_pos", "_line"),
    ).withColumn("_norm", F.trim(F.col("_line")))
    dup = (
        lines.where(F.length("_norm") >= min_len)
        .groupBy("_norm")
        .agg((F.min("_doc") != F.max("_doc")).alias("_dup"))
        .where(F.col("_dup"))
        .select("_norm")
    )
    kept = lines.join(dup, "_norm", "left_anti")
    rebuilt = kept.groupBy("_doc").agg(
        F.count(F.lit(1)).alias("_n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_pos", "_line"))
                ),
                lambda s: s["_line"],
            ),
        ).alias("clean_text"),
    )
    totals = lines.groupBy("_doc").agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        totals.join(rebuilt, "_doc", "left")
        .select(
            F.col("_doc").alias(id_col),
            "n_lines",
            (F.col("n_lines") - F.coalesce("_n_kept", F.lit(0)))
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def nb_classify(
    docs: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    holdout_mod: int = 5,
) -> DataFrame:
    """Multinomial Naive Bayes document classifier trained ON the
    corpus itself — the model-based quality/domain filtering staple
    (GPT-3's "looks like WebText" and LLaMA's "looks like Wikipedia
    references" filters are exactly this shape: a cheap linear
    classifier over token counts scoring every document at corpus
    scale; Joulin et al.'s fastText is the usual implementation).

    Training IS aggregation, so the whole fit is two shuffles: token
    counts per (class, token) and per class; the vocabulary size and
    class priors collapse to a handful of rows. Scoring is relational
    too: score(d, y) = ln P(y) + Σ_t m_td · ln P(t|y) with add-half
    smoothing P(t|y) = (2·c_ty + 1) / (2·N_y + V), decomposed as

        prior_y + Σ_{t: c_ty>0} m_td · ln(2·c_ty + 1) − T_d · ln(2·N_y + V)

    so unseen-token terms need no join (ln 1 = 0): one equi-join of
    the holdout's (doc, token, m) counts against the c>0 model table,
    one broadcast of the per-class constants, one per-doc argmax.
    Nothing leaves the JVM.

    Float discipline (the bigram-LM pattern): every ln argument is an
    exact integer, each ln rounds once to 6 decimals, all sums/
    products run in DECIMAL — the published micro-nat score has zero
    float-order sensitivity, which is what lets DuckDB replay the
    model bit-for-bit. Holdout = id % holdout_mod == 0, the repo's
    deterministic-split idiom; argmax ties break on ascending label.

    Returns (id, pred_<label>, actual_<label>, is_correct,
    score_micro) for every holdout document.
    """
    from pyspark.sql.window import Window

    def qln(c: Column) -> Column:
        return F.round(F.log(c.cast("double")), 6).cast("decimal(18,6)")

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = docs.select(
        F.col(id_col).alias("_doc"),
        F.col(label_col).alias("_actual"),
        toks.alias("_t"),
    )
    train = base.filter(
        (F.col("_doc") % holdout_mod != 0) & F.col("_actual").isNotNull()
    )
    test = base.filter(F.col("_doc") % holdout_mod == 0).withColumn(
        "_n", F.size("_t")
    )

    # checkpointed (r14): three aggregation consumers — same rationale
    # as langid_classify's tok_train (train is judgment-sized)
    tok_train = train.select(
        F.col("_actual").alias("_y"), F.explode("_t").alias("_w")
    ).localCheckpoint(eager=True)
    cc = tok_train.groupBy("_y", "_w").agg(F.count(F.lit(1)).alias("_c"))
    ny = tok_train.groupBy("_y").agg(F.count(F.lit(1)).alias("_nt"))
    vocab_v = tok_train.select("_w").distinct().count()  # driver scalar
    d_total = train.count()  # driver scalar
    cls = (
        train.groupBy(F.col("_actual").alias("_y2"))
        .agg(F.count(F.lit(1)).alias("_d"))
        .join(ny.withColumnRenamed("_y", "_y2"), "_y2")
        .select(
            F.col("_y2"),
            qln(2 * F.col("_nt") + F.lit(int(vocab_v))).alias("_b"),
            (qln(F.col("_d")) - qln(F.lit(int(d_total)))).alias("_prior"),
        )
    )

    tm = (
        test.select("_doc", F.explode("_t").alias("_w"))
        .groupBy("_doc", "_w")
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    hits = (
        tm.join(cc, "_w")
        .groupBy("_doc", "_y")
        .agg(
            F.sum(F.col("_m") * qln(2 * F.col("_c") + 1))
            .cast("decimal(38,6)")
            .alias("_hs")
        )
    )
    grid = test.select("_doc", "_actual", "_n").crossJoin(F.broadcast(cls))
    scored = grid.join(
        hits,
        (grid["_doc"] == hits["_doc"]) & (grid["_y2"] == hits["_y"]),
        "left",
    ).select(
        grid["_doc"],
        "_actual",
        F.col("_y2").alias("_pred"),
        (
            F.coalesce(F.col("_hs"), F.lit(0).cast("decimal(38,6)"))
            - F.col("_n") * F.col("_b")
            + F.col("_prior")
        ).alias("_score"),
    )
    w = Window.partitionBy("_doc").orderBy(
        F.col("_score").desc(), F.col("_pred").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_doc").alias(id_col),
            F.col("_pred").alias(f"pred_{label_col}"),
            F.col("_actual").alias(f"actual_{label_col}"),
            (F.col("_pred") == F.col("_actual")).alias("is_correct"),
            (F.col("_score") * 1_000_000).cast("long").alias("score_micro"),
        )
    )


def char_ngrams(col: Column, n: int = 2) -> Column:
    """array<string> of the text's overlapping character n-grams —
    the fastText-shaped langid feature (word tokens need vocabulary
    overlap across corpora; character distributions are the signal
    every CCNet-descended pipeline gates on). Pure codegen: one
    sequence + transform, no UDF. Texts shorter than ``n`` yield an
    empty array (Spark's sequence(1, 0) would count DOWN)."""
    length = F.length(col)
    grams = F.transform(
        F.sequence(F.lit(1), length - F.lit(n - 1)),
        lambda i: col.substr(i, F.lit(n)),
    )
    return F.when(length >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def langid_classify(
    train: DataFrame,
    docs: DataFrame,
    label_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Character-n-gram Naive Bayes language identification — the one
    mainstream curation stage CCNet / RefinedWeb / FineWeb all run
    BEFORE quality filtering (fastText langid in the originals; the
    same linear-model-over-char-n-gram-counts shape here, at
    SQL-replayable complexity). ``train`` is the labeled seed corpus
    (``label_col``); every row of ``docs`` is scored. Returns
    ``(id, pred_<label>, score_micro)``.

    Same add-half-smoothed multinomial NB and decimal float
    discipline as :func:`nb_classify` (each ln rounds once to 6 dp,
    sums run in DECIMAL, argmax ties break on ascending label), with
    char n-grams as features:

        score(d, y) = prior_y + Σ_{g: c_gy>0} m_gd·ln(2c_gy+1)
                      − G_d·ln(2N_y + V)

    Scale plan: the model is langs x char-n-gram vocabulary — a few
    hundred rows per language for any n <= 3, BROADCAST to the
    scoring join; scoring is one explode + map-side join + per-doc
    argmax. Training is two aggregations over the seed corpus (which
    is judgment-sized, never the 100 TB corpus). Nothing leaves the
    JVM."""
    from pyspark.sql.window import Window

    def qln(c: Column) -> Column:
        return F.round(F.log(c.cast("double")), 6).cast("decimal(18,6)")

    tr = train.select(
        F.col(label_col).alias("_y"),
        char_ngrams(F.col(text_col), n).alias("_g"),
    ).filter(F.col("_y").isNotNull())
    # checkpointed (r14): the exploded train tokens feed THREE
    # aggregations (per-(y, gram) counts, per-y totals, the vocabulary
    # count) — unpinned, the char-n-gram transform + explode over the
    # seed corpus executed once per consumer. O(train tokens), which
    # is judgment-sized by contract (see scale plan above). The tr
    # count/groupBy consumers below prune the n-gram column entirely,
    # so they stay cheap without pinning.
    tok_train = tr.select(
        "_y", F.explode("_g").alias("_w")
    ).localCheckpoint(eager=True)
    cc = tok_train.groupBy("_y", "_w").agg(F.count(F.lit(1)).alias("_c"))
    ny = tok_train.groupBy("_y").agg(F.count(F.lit(1)).alias("_nt"))
    vocab_v = tok_train.select("_w").distinct().count()  # driver scalar
    d_total = tr.count()  # driver scalar
    cls = (
        tr.groupBy(F.col("_y").alias("_y2"))
        .agg(F.count(F.lit(1)).alias("_d"))
        .join(ny.withColumnRenamed("_y", "_y2"), "_y2")
        .select(
            "_y2",
            qln(2 * F.col("_nt") + F.lit(int(vocab_v))).alias("_b"),
            (qln(F.col("_d")) - qln(F.lit(int(d_total)))).alias("_prior"),
        )
    )

    base = docs.select(
        F.col(id_col).alias("_doc"),
        char_ngrams(F.col(text_col), n).alias("_g"),
    ).withColumn("_n", F.size("_g"))
    gm = (
        base.select("_doc", F.explode("_g").alias("_w"))
        .groupBy("_doc", "_w")
        .agg(F.count(F.lit(1)).alias("_m"))
    )
    hits = (
        gm.join(F.broadcast(cc), "_w")
        .groupBy("_doc", "_y")
        .agg(
            F.sum(F.col("_m") * qln(2 * F.col("_c") + 1))
            .cast("decimal(38,6)")
            .alias("_hs")
        )
    )
    grid = base.select("_doc", "_n").crossJoin(F.broadcast(cls))
    scored = grid.join(
        hits,
        (grid["_doc"] == hits["_doc"]) & (grid["_y2"] == hits["_y"]),
        "left",
    ).select(
        grid["_doc"],
        F.col("_y2").alias("_pred"),
        (
            F.coalesce(F.col("_hs"), F.lit(0).cast("decimal(38,6)"))
            - F.col("_n") * F.col("_b")
            + F.col("_prior")
        ).alias("_score"),
    )
    w = Window.partitionBy("_doc").orderBy(
        F.col("_score").desc(), F.col("_pred").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("_doc").alias(id_col),
            F.col("_pred").alias(f"pred_{label_col}"),
            (F.col("_score") * 1_000_000).cast("long").alias("score_micro"),
        )
    )
