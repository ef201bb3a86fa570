"""Text-analysis operators for training-data pipelines: token counting,
language-ID heuristic, quality scoring, document fingerprinting.

All pure JVM-side column expressions (whole-stage codegen, no Python) — each
has an exact DuckDB-SQL oracle in pdf_parser_spark/faces/text.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_parser_spark.functions import portable_hash32, words

# Tiny high-frequency stopword sets per language — the classic cheap lang-id
# signal (ratio of language-i stopwords among tokens).  Deterministic and
# identical in the SQL oracle.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
ES_STOPWORDS = ("el", "la", "de", "y", "que", "en", "un", "una", "los", "por")
FR_STOPWORDS = ("le", "la", "de", "et", "que", "en", "un", "une", "les", "pour")
DE_STOPWORDS = ("der", "die", "das", "und", "zu", "in", "ein", "eine", "mit", "von")


def token_count(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars_measured) — whitespace tokens + raw length."""
    return documents.select(
        "doc_id",
        F.size(words(F.col("text"))).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    ).orderBy("doc_id")


def _stopword_hits(language_words: tuple[str, ...]):
    toks = words(F.col("text"))
    arr = F.array(*[F.lit(w) for w in language_words])
    return F.size(F.array_intersect(F.transform(toks, F.lower), arr)).cast("long")


def predicted_lang_col():
    """The lang-id argmax as a plain Column — shared by lang_id and the
    declared-vs-detected audit so the two can never disagree."""
    en, es, fr, de = (
        _stopword_hits(EN_STOPWORDS),
        _stopword_hits(ES_STOPWORDS),
        _stopword_hits(FR_STOPWORDS),
        _stopword_hits(DE_STOPWORDS),
    )
    return (
        F.when((es > en) & (es >= fr) & (es >= de), F.lit("es"))
        .when((fr > en) & (fr > es) & (fr >= de), F.lit("fr"))
        .when((de > en) & (de > es) & (de > fr), F.lit("de"))
        .otherwise(F.lit("en"))
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """(doc_id, en_hits, es_hits, fr_hits, de_hits, predicted_lang) — distinct
    stopword hits per language; argmax with 'en' fallback on all-zero/tie.
    Tie-break order en > es > fr > de (greatest() picks the max; strictly-
    greater comparisons make the order explicit)."""
    en, es, fr, de = (
        _stopword_hits(EN_STOPWORDS),
        _stopword_hits(ES_STOPWORDS),
        _stopword_hits(FR_STOPWORDS),
        _stopword_hits(DE_STOPWORDS),
    )
    pred = predicted_lang_col()
    return documents.select(
        "doc_id",
        en.alias("en_hits"),
        es.alias("es_hits"),
        fr.alias("fr_hits"),
        de.alias("de_hits"),
        pred.alias("predicted_lang"),
    ).orderBy("doc_id")


def quality_score(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_word_len, stopword_ratio, quality) — the
    classic length/stopword quality gate (cf. C4/Gopher rules): score in
    [0,1] = 0.5*stopword_signal + 0.3*word_len_signal + 0.2*length_signal,
    rounded to 4dp for hash-stable comparison."""
    toks = words(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    mean_wl = (F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / n_tokens)
    stop_ratio = _stopword_hits(EN_STOPWORDS) / F.lit(len(EN_STOPWORDS))
    len_signal = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    wl_signal = F.when((mean_wl >= 3) & (mean_wl <= 10), 1.0).otherwise(0.0)
    quality = F.round(0.5 * stop_ratio + 0.3 * wl_signal + 0.2 * len_signal, 4)
    return documents.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        quality.alias("quality"),
    ).orderBy("doc_id")


# GPT-2-style pre-tokenizer classes without lookahead (RE2-compatible so the
# DuckDB oracle runs the IDENTICAL pattern): letter runs, digit runs, symbol
# runs.  Whitespace separates; a run count approximates the BPE pre-token
# count the real byte-pair merge would start from.
BPE_PRETOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count(documents: DataFrame) -> DataFrame:
    """(doc_id, n_bpe_tokens, n_word_runs, n_number_runs, n_symbol_runs) —
    the brief's 'BPE-ish regex' token count next to the whitespace count:
    one JVM regexp pass per class, whole-stage codegen, no Python."""
    def runs(pattern: str):
        return F.size(
            F.regexp_extract_all(F.col("text"), F.lit(pattern), F.lit(0))
        ).cast("long")

    return documents.select(
        "doc_id",
        runs(BPE_PRETOKEN_RE).alias("n_bpe_tokens"),
        runs(r"[A-Za-z]+").alias("n_word_runs"),
        runs(r"[0-9]+").alias("n_number_runs"),
        runs(r"[^A-Za-z0-9\s]+").alias("n_symbol_runs"),
    ).orderBy("doc_id")


# C4/Gopher-style hard gate thresholds (public heuristics: Raffel et al. C4,
# Rae et al. Gopher rules) — deterministic, mirrored in the SQL oracle.
GATE_MIN_TOKENS = 50
GATE_MAX_TOKENS = 100_000
GATE_MEAN_WL_LO = 3.0
GATE_MEAN_WL_HI = 10.0
GATE_MIN_STOPWORD_HITS = 2
GATE_MAX_HASH_RATIO = 0.1
GATE_MAX_ELLIPSIS_LINE_RATIO = 0.3
GATE_MAX_BULLET_LINE_RATIO = 0.9


# --- Gopher quality rules (Rae et al. 2021, Appendix A) ---------------------
# The published web-text filter battery, each rule an explicit verdict column
# so a curation run can report WHICH rule killed a page (the aggregate-score
# face above answers "how good"; this face answers "why rejected").  All
# thresholds are the paper's; every comparison is exact-integer (cross-
# multiplied basis points) so the DuckDB oracle hashes bit-equal.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3   # chars, inclusive
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_SYMBOL_RE = r"#|\.\.\.|…"  # hash or ellipsis, the paper's symbol set
GOPHER_BULLET_CHARS = ("•", "-", "*")
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOP_HITS = 2


def gopher_rules(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-rule Gopher filter verdicts: word-count window, mean-word-length
    window, symbol-to-word ratio <= 0.1, <= 90% bullet-led lines, <= 30%
    ellipsis-ended lines, >= 80% words containing an alphabetic char,
    >= 2 distinct required stopwords.  One JVM pass, no shuffle, no UDF;
    ratios compare as cross-multiplied integers (n_sym * 10 <= n_words
    instead of n_sym / n_words <= 0.1) so no float ever forms."""
    txt = F.col(text_col)
    toks = words(txt)
    n_words = F.size(toks).cast("long")
    word_chars = F.length(F.regexp_replace(txt, r"\s+", "")).cast("long")
    n_sym = F.size(
        F.regexp_extract_all(txt, F.lit(GOPHER_SYMBOL_RE), F.lit(0))
    ).cast("long")
    lines = F.split(txt, "\n")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda l: F.substring(F.ltrim(l), 1, 1).isin(*GOPHER_BULLET_CHARS),
        )
    ).cast("long")
    n_ellipsis = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike("[A-Za-z]"))
    ).cast("long")
    stop_hits = F.size(
        F.array_intersect(
            F.transform(toks, F.lower),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]),
        )
    ).cast("long")
    ok_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    ok_mwl = (word_chars >= GOPHER_MIN_MEAN_WORD_LEN * n_words) & (
        word_chars <= GOPHER_MAX_MEAN_WORD_LEN * n_words
    )
    ok_symbols = n_sym * 10 <= n_words
    ok_bullets = n_bullet * 10 <= n_lines * 9
    ok_ellipsis = n_ellipsis * 10 <= n_lines * 3
    ok_alpha = n_alpha * 10 >= n_words * 8
    ok_stop = stop_hits >= GOPHER_MIN_STOP_HITS
    return documents.select(
        "doc_id",
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        n_sym.alias("n_symbols"),
        n_bullet.alias("n_bullet_lines"),
        n_ellipsis.alias("n_ellipsis_lines"),
        n_alpha.alias("n_alpha_words"),
        stop_hits.alias("stop_hits"),
        ok_words.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_symbols.alias("ok_symbol_ratio"),
        ok_bullets.alias("ok_bullet_lines"),
        ok_ellipsis.alias("ok_ellipsis_lines"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (
            ok_words & ok_mwl & ok_symbols & ok_bullets
            & ok_ellipsis & ok_alpha & ok_stop
        ).alias("passes"),
    ).orderBy("doc_id")


# --- C4 cleaning rules (Raffel et al. 2020, §2.2) ----------------------------
# The OTHER published web-text filter battery beside Gopher's: C4 is
# line-granular (keep/drop individual lines, then judge the page), where
# Gopher is page-granular (ratio verdicts over the whole page).  Thresholds
# and phrase lists are the paper's / the public TFDS c4_utils ones; the
# bad-words list is a small deterministic stand-in for the external LDNOOBW
# list the paper cites (swap in the real list in production — the operator
# takes it as a parameter).  Sentence counting is a deterministic
# terminal-punctuation count standing in for the paper's nltk punkt (both
# engines run the identical rule, so the oracle hashes bit-equal).
C4_TERMINAL_PUNCT = (".", "!", "?", '"')
C4_MIN_LINE_WORDS = 5
C4_MIN_SENTENCES = 3
C4_POLICY_PHRASES = (
    "terms of use", "privacy policy", "cookie policy",
    "uses cookies", "use of cookies", "use cookies",
)
C4_BAD_WORDS = ("casino", "viagra", "porn", "xxx")
C4_SENTENCE_END_RE = r"[.!?]"


def c4_rules(
    documents: DataFrame,
    text_col: str = "text",
    bad_words: tuple[str, ...] = C4_BAD_WORDS,
) -> DataFrame:
    """Per-document C4 cleaning verdicts + the cleaned text's fingerprint.

    Line filter (a line survives only if ALL hold): ends in terminal
    punctuation ('.', '!', '?', '\"'); >= 5 whitespace words; does not
    contain 'javascript' (case-insensitive); does not contain a
    policy phrase ('terms of use', 'privacy policy', ...).
    Page filter (on the ORIGINAL text, per the paper): no 'lorem ipsum',
    no '{', no bad-list word (token-level match); and the RETAINED text
    must contain >= 3 sentences (terminal-punct count).

    Returns (doc_id, n_lines, n_kept, n_sentences, ok_sentences, ok_lorem,
    ok_brace, ok_badword, passes, kept_md5) — kept_md5 pins the byte-exact
    surviving text (kept lines re-joined in order), so the oracle catches
    ordering/off-by-one slips, not just counts.  One JVM pass, no shuffle,
    no UDF; every predicate is a higher-order column lambda."""
    txt = F.col(text_col)
    lines = F.split(txt, "\n")

    def line_ok(l):  # noqa: E741 — l is the conventional lambda name here
        t = F.rtrim(l)
        punct_ok = None
        for p in C4_TERMINAL_PUNCT:
            c = t.endswith(p)
            punct_ok = c if punct_ok is None else (punct_ok | c)
        n_w = F.size(F.filter(F.split(F.trim(l), r"\s+"), lambda x: x != ""))
        low = F.lower(l)
        clean = ~low.contains("javascript")
        for ph in C4_POLICY_PHRASES:
            clean = clean & ~low.contains(ph)
        return punct_ok & (n_w >= C4_MIN_LINE_WORDS) & clean

    kept = F.filter(lines, line_ok)
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.size(
        F.regexp_extract_all(kept_text, F.lit(C4_SENTENCE_END_RE), F.lit(0))
    ).cast("long")
    low_all = F.lower(txt)
    ok_lorem = ~low_all.contains("lorem ipsum")
    ok_brace = ~txt.contains("{")
    ok_badword = ~F.arrays_overlap(
        F.transform(words(txt), F.lower),
        F.array(*[F.lit(w) for w in bad_words]),
    )
    ok_sentences = n_sentences >= C4_MIN_SENTENCES
    return documents.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        n_sentences.alias("n_sentences"),
        ok_sentences.alias("ok_sentences"),
        ok_lorem.alias("ok_lorem"),
        ok_brace.alias("ok_brace"),
        ok_badword.alias("ok_badword"),
        (ok_sentences & ok_lorem & ok_brace & ok_badword).alias("passes"),
        F.md5(F.encode(kept_text, "UTF-8")).alias("kept_md5"),
    ).orderBy("doc_id")


def quality_gate(documents: DataFrame) -> DataFrame:
    """(doc_id, passed, reasons) — the C4/Gopher HARD filter chain next to
    the soft quality_score: token-count band, mean-word-length band, English
    stopword presence, '#'-symbol ratio, ellipsis-line ratio, bullet-line
    ratio.  All JVM higher-order column ops (split + filter lambdas); reasons
    is the ';'-joined failed rules in pipeline order ('' when passed)."""
    toks = words(F.col("text"))
    n_tokens = F.size(toks).cast("long")
    mean_wl = F.length(F.regexp_replace(F.col("text"), r"\s+", "")) / n_tokens
    stop_hits = _stopword_hits(EN_STOPWORDS)
    hash_ratio = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit(""))))
        / n_tokens
    )
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda l: l.endswith("..."))) / n_lines
    )
    bullet_ratio = (
        F.size(F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("- ") | F.ltrim(l).startswith("* "),
        )) / n_lines
    )
    rules = [
        (n_tokens < GATE_MIN_TOKENS, "too_few_tokens"),
        (n_tokens > GATE_MAX_TOKENS, "too_many_tokens"),
        ((mean_wl < GATE_MEAN_WL_LO) | (mean_wl > GATE_MEAN_WL_HI), "word_len"),
        (stop_hits < GATE_MIN_STOPWORD_HITS, "no_stopwords"),
        (hash_ratio > GATE_MAX_HASH_RATIO, "hash_symbols"),
        (ellipsis_ratio > GATE_MAX_ELLIPSIS_LINE_RATIO, "ellipsis_lines"),
        (bullet_ratio > GATE_MAX_BULLET_LINE_RATIO, "bullet_lines"),
    ]
    reasons = F.concat_ws(
        ";", *[F.when(cond, F.lit(name)) for cond, name in rules]
    )
    return documents.select(
        "doc_id",
        (reasons == "").alias("passed"),
        reasons.alias("reasons"),
    ).orderBy("doc_id")


def winnow_fingerprint(
    documents: DataFrame, n: int = 3, window: int = 4
) -> DataFrame:
    """(doc_id, fp) rows — winnowing document fingerprints (Schleimer et al.,
    SIGMOD 2003): hash every n-gram shingle, slide a w-window over the hash
    sequence, keep each window's minimum, emit the distinct minima.

    Expressed relationally so it scales: posexplode the shingle sequence ->
    ONE portable hash per shingle -> window-min per doc ordered by position
    (single shuffle on doc_id) -> distinct.  The naive higher-order-function
    form (transform over window starts with array_min(slice(...)) inside the
    lambda) recomputes the hash array per window — O(shingles x windows) md5
    calls.  Short docs (< window full windows) fall back to the global min
    via the pos <= greatest(n_sh - window + 1, 1) bound."""
    from pyspark.sql import Window as W

    from pdf_parser_spark.functions import word_shingles

    sh = documents.select(
        "doc_id", F.posexplode(word_shingles(F.col("text"), n)).alias("pos", "s")
    ).select(
        "doc_id", "pos",
        portable_hash32(F.col("s")).alias("h"),
        F.count("*").over(W.partitionBy("doc_id")).alias("n_sh"),
    )
    wmin = F.min("h").over(
        W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    )
    return (
        sh.withColumn("fp", wmin)
        .where(F.col("pos") <= F.greatest(F.col("n_sh") - window + 1, F.lit(1)) - 1)
        .select("doc_id", "fp")
        .distinct()
        .orderBy("doc_id", "fp")
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """(doc_id, fp) — md5 of whitespace-normalized lowercase text: the exact
    dedup key.  md5 chosen for engine portability (see functions.portable_hash32)."""
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return documents.select(
        "doc_id", F.md5(normalized).alias("fp")
    ).orderBy("doc_id")


# Gopher repetition thresholds (Rae et al. 2021, Table A1 — public
# heuristics), expressed as exact integer-ratio comparisons so the gate
# verdict is hash-stable (no float rounding in the compared columns).
REP_MAX_DUP_LINE_PCT = 30        # duplicate-line fraction > 0.30 -> fail
REP_MAX_DUP_LINE_CHAR_PCT = 20   # chars inside duplicated lines > 0.20
REP_MAX_DUP_PARA_PCT = 30
REP_MAX_DUP_PARA_CHAR_PCT = 20
REP_MAX_TOP2GRAM_CHAR_PCT = 20   # chars covered by the top word 2-gram


def _dup_block_stats(documents: DataFrame, split_re: str, prefix: str) -> DataFrame:
    """Per-doc duplicate-block stats for one block granularity (lines or
    paragraphs): explode trimmed non-empty blocks, count occurrences per
    (doc_id, block), fold back to per-doc totals.  Two partial-aggregatable
    shuffles both keyed by doc_id-led keys — scale-safe, no skew beyond the
    largest single document."""
    blocks = F.filter(
        F.transform(F.split(F.col("text"), split_re), lambda b: F.trim(b)),
        lambda b: b != "",
    )
    exploded = documents.select("doc_id", F.explode(blocks).alias("block"))
    per_block = exploded.groupBy("doc_id", "block").agg(
        F.count("*").alias("cnt"), F.length(F.first("block")).alias("blen")
    )
    dup = F.col("cnt") >= 2
    return per_block.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias(f"n_{prefix}"),
        F.sum(F.when(dup, F.col("cnt")).otherwise(0)).cast("long").alias(f"n_dup_{prefix}"),
        F.sum(F.col("cnt") * F.col("blen")).cast("long").alias(f"{prefix}_chars"),
        F.sum(F.when(dup, F.col("cnt") * F.col("blen")).otherwise(0))
        .cast("long").alias(f"dup_{prefix}_chars"),
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_lines, n_dup_lines, dup_line_chars, line_chars, n_paras,
    n_dup_paras, dup_para_chars, para_chars, top2_count, top2_chars,
    nws_chars, rep_passed) — the Gopher repetition-filter family: duplicate
    line/paragraph fraction, duplicate line/paragraph *character* fraction,
    and the character fraction covered by the most frequent word 2-gram.

    All counters are exact BIGINTs; ``rep_passed`` applies the public Gopher
    thresholds via integer cross-multiplication (no float compare).  Blocks
    are trimmed and empty blocks dropped; the top 2-gram ties break on the
    lexicographically smallest gram; docs with <2 tokens have no 2-gram
    (top2_count = 0).  Complements quality_gate (C4-style surface rules) —
    repetition is the signal that catches boilerplate/spam pages that pass
    length and stopword checks."""
    base = documents.select(
        "doc_id",
        F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
        .cast("long").alias("nws_chars"),
    )
    lines = _dup_block_stats(documents, r"\n", "lines")
    paras = _dup_block_stats(documents, r"\n{2,}", "paras")

    toks = words(F.col("text"))
    grams = F.when(F.size(toks) < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        )
    )
    per_gram = (
        documents.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    # max count, then lexicographically smallest gram: min_by over (-cnt, gram)
    top2 = per_gram.groupBy("doc_id").agg(
        F.min_by(
            F.struct(F.col("cnt"), F.length("gram").alias("glen")),
            F.struct((-F.col("cnt")).alias("neg"), F.col("gram")),
        ).alias("t")
    ).select(
        "doc_id",
        F.col("t.cnt").cast("long").alias("top2_count"),
        (F.col("t.cnt") * F.col("t.glen")).cast("long").alias("top2_chars"),
    )

    joined = (
        base.join(lines, "doc_id", "left")
        .join(paras, "doc_id", "left")
        .join(top2, "doc_id", "left")
        .na.fill(0)
    )
    passed = (
        (F.col("n_dup_lines") * 100 <= F.col("n_lines") * REP_MAX_DUP_LINE_PCT)
        & (F.col("dup_lines_chars") * 100
           <= F.col("lines_chars") * REP_MAX_DUP_LINE_CHAR_PCT)
        & (F.col("n_dup_paras") * 100 <= F.col("n_paras") * REP_MAX_DUP_PARA_PCT)
        & (F.col("dup_paras_chars") * 100
           <= F.col("paras_chars") * REP_MAX_DUP_PARA_CHAR_PCT)
        & (F.col("top2_chars") * 100
           <= F.col("nws_chars") * REP_MAX_TOP2GRAM_CHAR_PCT)
    )
    return joined.select(
        "doc_id",
        "n_lines", "n_dup_lines", "dup_lines_chars", "lines_chars",
        "n_paras", "n_dup_paras", "dup_paras_chars", "paras_chars",
        "top2_count", "top2_chars", "nws_chars",
        passed.alias("rep_passed"),
    ).orderBy("doc_id")


TOP_TERMS_K = 10


def top_terms(documents: DataFrame, k: int = TOP_TERMS_K, min_count: int = 2) -> DataFrame:
    """Top-k tokens per language by corpus frequency: (lang, term, cnt, rank)
    with the deterministic (count desc, token asc) tie-break — the corpus
    vocabulary report every curation run ships next to its language mix.

    Plan: explode (narrow) -> groupBy(lang, token) with map-side partial
    aggregation (shuffle 1) -> min_count pre-filter -> per-lang rank window
    (shuffle 2, but only over tokens that survived the floor).  The window
    partitions by lang, so at 10^12 docs one reducer would see a whole
    language's distinct-token table; the min_count floor bounds that input
    (any true top-k term at corpus scale dwarfs any fixed floor), and the
    fully skew-proof variant is top_terms_two_phase below — identical
    output, salted candidate windows, held to the same oracle."""
    from pyspark.sql import Window

    ex = documents.select(
        "lang", F.explode(words(F.lower(F.col("text")))).alias("term")
    )
    counts = (
        ex.groupBy("lang", "term")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("lang", "term", F.col("cnt").cast("long").alias("cnt"), "rank")
        .orderBy("lang", "rank")
    )


TOP_TERMS_SALT = 16  # candidate splits in the two-phase top-k


def top_terms_two_phase(
    documents: DataFrame,
    k: int = TOP_TERMS_K,
    min_count: int = 2,
    n_salt: int = TOP_TERMS_SALT,
) -> DataFrame:
    """The fully skew-proof variant top_terms documents: identical output
    (held to the SAME t_top_terms oracle — the c_decontaminate_bloom
    doctrine), but no reducer ever sees a whole language's distinct-token
    table.

    Exactness argument: the candidate split runs AFTER the (lang, term)
    aggregation, so every row already carries its GLOBAL count — the
    global top-k of a union is the top-k of the per-split top-ks, no
    partial-count leakage possible (this is why the salt goes on the
    counted table, not the token stream).  Phase 1 ranks within
    (lang, salt-of-term) — n_salt-way parallel windows over disjoint term
    shards; phase 2 ranks the <= n_salt*k survivors per lang — a dim.
    Both phases share the (cnt desc, term asc) tie-break, so the winner
    set is deterministic."""
    from pyspark.sql import Window

    ex = documents.select(
        "lang", F.explode(words(F.lower(F.col("text")))).alias("term")
    )
    counts = (
        ex.groupBy("lang", "term")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .withColumn("salt", F.pmod(F.xxhash64("term"), F.lit(n_salt)))
    )
    order = [F.col("cnt").desc(), F.col("term")]
    w1 = Window.partitionBy("lang", "salt").orderBy(*order)
    cands = (
        counts.withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= k)
        .drop("salt", "r1")
    )
    w2 = Window.partitionBy("lang").orderBy(*order)
    return (
        cands.withColumn("rank", F.row_number().over(w2).cast("long"))
        .where(F.col("rank") <= k)
        .select("lang", "term", F.col("cnt").cast("long").alias("cnt"), "rank")
        .orderBy("lang", "rank")
    )


COLLOC_MIN_COUNT = 3   # bigram count floor before PMI ranking
COLLOC_K = 20          # collocations reported


def pmi_collocations(
    documents: DataFrame, min_count: int = COLLOC_MIN_COUNT, k: int = COLLOC_K
) -> DataFrame:
    """Top-k corpus collocations by pointwise mutual information — the
    corpus-analysis face next to top_terms: PMI surfaces BOUND pairs
    ("los angeles") that raw frequency buries under stopword bigrams, the
    standard first look at multi-word units in a new crawl slice.

    (w1, w2, c_xy, pmi_ppm, rank): pmi_ppm = (10^6 * c_xy * N) div
    (c_x * c_y) with N = total tokens — exp(PMI) in exact integer parts-
    per-million, monotone in PMI, so the ranking never touches a float or
    a log (the classic cross-engine hash hazards).  BIGINT headroom: the
    product needs c_xy * N < 9.2e12; at 10^12 tokens widen the two
    multiplications to DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — one
    cast, same semantics.  min_count floors the noise (PMI of a
    count-1 pair is pure variance).

    Plan: bigrams via one JVM transform over index windows (narrow; the
    size<2 guard matters — sequence(0, -1) generates a DESCENDING range),
    one map-side-combined groupBy each for bigram and unigram counts, the
    vocab-sized unigram dim shuffle-joined twice (vocabularies outgrow
    broadcast — the keywords/BPE doctrine), N crossJoined from a 1-row
    agg, and the global top-k as orderBy+limit = TakeOrdered (distributed
    partial top-k per partition, never a corpus-wide single-reducer
    window); the rank window runs on the k-row result only."""
    from pyspark.sql import Window

    toks = words(F.lower(F.col("text")))
    pair = F.when(F.size(toks) < 2, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        )
    )
    bcnt = (
        documents.select(F.explode(pair).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .where(F.col("c_xy") >= min_count)
    )
    ucnt = (
        documents.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    n_total = ucnt.agg(F.sum("c").cast("long").alias("n_total"))
    scored = (
        bcnt.join(ucnt.select(F.col("term").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(ucnt.select(F.col("term").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(n_total)
        .select(
            "w1", "w2", "c_xy",
            F.expr("(1000000 * c_xy * n_total) div (c_x * c_y)")
            .cast("long").alias("pmi_ppm"),
        )
    )
    topk = scored.orderBy(
        F.col("pmi_ppm").desc(), F.col("w1"), F.col("w2")
    ).limit(k)
    w = Window.partitionBy().orderBy(F.col("pmi_ppm").desc(), "w1", "w2")
    return topk.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).orderBy("rank")


def corpus_datasheet(documents: DataFrame) -> DataFrame:
    """The release datasheet: per (source, lang) — docs, exact token sum,
    mean tokens (integer floor), distinct-content count, and duplicate
    fraction in basis points.  Every corpus release ships this table
    (cf. "Datasheets for Datasets"); one groupBy with map-side combine,
    all exact BIGINTs.

    Scale: count(DISTINCT md5) is the one expensive aggregate — exact
    distinct inside a group needs a per-group shuffle of the fingerprints.
    At 10^12 docs swap in approx_count_distinct (HLL) and accept the
    documented ~2% rsd — approx sketches are engine-specific, so the
    exact form is what the cross-engine oracle checks."""
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    n_toks = F.size(words(F.col("text"))).cast("long")
    return (
        documents.select("source", "lang", fp.alias("fp"), n_toks.alias("t"))
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("n_tokens"),
            F.expr("sum(t) div count(*)").cast("long").alias("mean_tokens"),
            F.countDistinct("fp").cast("long").alias("n_distinct"),
            F.expr("((count(*) - count(DISTINCT fp)) * 10000) div count(*)")
            .cast("long").alias("dup_bp"),
        )
        .orderBy("source", "lang")
    )


# HLL relative standard deviation for the approx datasheet: 0.02 needs
# 2^~12 registers — a fixed few-KiB sketch per group vs an exact-distinct
# shuffle of every fingerprint (the 10^12 swap corpus_datasheet documents)
DATASHEET_HLL_RSD = 0.02


def corpus_datasheet_approx(documents: DataFrame) -> DataFrame:
    """The 10^12-scale face of corpus_datasheet: identical group keys and
    exact counters, but distinct-content counting via HyperLogLog++
    (approx_count_distinct at DATASHEET_HLL_RSD) instead of an exact
    per-group fingerprint shuffle.  An HLL sketch is a fixed-size register
    array with a map-side-combinable merge, so the distinct count costs the
    same one partial-agg groupBy as the plain counters — no second shuffle
    keyed on the fingerprint.  Sketch internals are engine-specific, so this
    face is held to a tolerance band against the exact form in pytest (and
    rows-only by the driver); the exact form stays the cross-engine oracle."""
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    n_toks = F.size(words(F.col("text"))).cast("long")
    return (
        documents.select("source", "lang", fp.alias("fp"), n_toks.alias("t"))
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("n_tokens"),
            F.expr("sum(t) div count(*)").cast("long").alias("mean_tokens"),
            F.approx_count_distinct("fp", DATASHEET_HLL_RSD)
            .cast("long").alias("n_distinct_approx"),
        )
        .orderBy("source", "lang")
    )


def corpus_datasheet_audit(documents: DataFrame) -> DataFrame:
    """Hash-checkable band verdict over the HLL datasheet face (r3 verdict
    item 3): joins corpus_datasheet_approx to the exact form and emits
    ``hll_within_band`` — TRUE iff |approx - exact| <= max(2, 5 x RSD x
    exact), the SAME envelope the pytest band pins.  The sketch VALUE stays
    engine-side (HLL++ register layouts are engine-specific, so cross-
    engine equality on it is undefined), but the exact columns AND the
    band verdict are deterministic — the DuckDB oracle recomputes the
    exact counters and asserts the verdict TRUE, so an HLL drifting out of
    its advertised band hash-mismatches the driver gate.

    Scale note: this is the AUDIT composition (it runs both faces, so it
    pays the exact-distinct shuffle); production runs the approx face
    alone and audits on a sample — the verdict's determinism is a property
    of the sketch, not the corpus size."""
    approx = corpus_datasheet_approx(documents).select(
        "source", "lang", "n_distinct_approx"
    )
    exact = corpus_datasheet(documents)
    tol = F.greatest(
        F.lit(2.0), F.lit(5 * DATASHEET_HLL_RSD) * F.col("n_distinct")
    )
    return (
        exact.join(approx, ["source", "lang"])
        .select(
            "source", "lang", "n_docs", "n_tokens", "mean_tokens",
            "n_distinct", "dup_bp",
            (F.abs(F.col("n_distinct_approx") - F.col("n_distinct"))
             .cast("double") <= tol).alias("hll_within_band"),
        )
        .orderBy("source", "lang")
    )


KEYWORDS_K = 3


def doc_keywords(documents: DataFrame, k: int = KEYWORDS_K) -> DataFrame:
    """Per-document keyword extraction: the k most DISTINCTIVE terms by the
    all-integer TF-IDF ordering (corpus document-frequency ASC — rarer is
    more distinctive — then term frequency DESC, then term ASC).  Rank-based
    rarity replaces the float idf log: the ORDERING is identical for any
    monotone idf, and integer keys are what survives the cross-engine hash.

    Output: (doc_id, term, tf, df, kw_rank) — the search-index side of the
    corpus (cf. anchor_text_index for the link side).

    Plan: one explode -> per-(doc, term) count (shuffle 1, map-side
    combined) -> per-term document frequency (shuffle 2, on the term key)
    -> join back on term (vocabulary-sized right side; a shuffle join —
    vocabularies outgrow broadcast at corpus scale) -> per-doc top-k window
    (shuffle 3 on doc_id).  Every stage keys on a bounded-skew column."""
    from pyspark.sql import Window

    tf = (
        documents.select(
            "doc_id", F.explode(words(F.lower(F.col("text")))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("df").asc(), F.col("tf").desc(), F.col("term").asc()
    )
    return (
        tf.join(df_, "term")
        .withColumn("kw_rank", F.row_number().over(w).cast("long"))
        .where(F.col("kw_rank") <= k)
        .select("doc_id", "term", "tf", "df", "kw_rank")
        .orderBy("doc_id", "kw_rank")
    )


# ---------------------------------------------------------------------------
# Corpus drift monitoring (crawl-snapshot token-distribution shift)
# ---------------------------------------------------------------------------

DRIFT_BUCKETS = 1024  # hashed token space (production: 2^16+)
DRIFT_TOP_K = 20      # movers reported
DRIFT_SCALE = 10000   # shares in basis points


def drift_snapshots(documents: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Two deterministic corpus snapshots for drift monitoring, reusing the
    snapshot_diff membership/revision formulas (operators/snapshot.py
    OLD/NEW/REV_MOD) so the oracle re-derives identical text: old = even
    doc_ids, new = doc_id % 5 != 4 with ' [rev]' appended when
    doc_id % 11 == 0."""
    from pdf_parser_spark.operators.snapshot import NEW_MOD, OLD_MOD, REV_MOD

    d = F.col("doc_id")
    old = documents.where(d % OLD_MOD == 0).select("text")
    new = documents.where(d % NEW_MOD != NEW_MOD - 1).select(
        F.when(d % REV_MOD == 0, F.concat(F.col("text"), F.lit(" [rev]")))
        .otherwise(F.col("text"))
        .alias("text")
    )
    return old, new


def token_drift(
    old: DataFrame,
    new: DataFrame,
    buckets: int = DRIFT_BUCKETS,
    top_k: int = DRIFT_TOP_K,
) -> DataFrame:
    """Token-distribution shift between two corpus snapshots — the data-
    quality monitor a continuous crawl pipeline runs per cycle (did the new
    snapshot's language/boilerplate/spam mix move?).

    Tokens hash into a fixed bucket space; each side's bucket share is an
    exact integer in basis points of that side's total; the report is the
    top_k movers by absolute share delta (ties: bucket asc).  Returns
    (bucket, old_n, new_n, old_bp, new_bp, delta_bp).

    Scale design: both token streams union into ONE map-side-combined
    groupBy (conditional sums per side) whose output is bounded by
    ``buckets`` rows; every window after that (side totals, mover rank)
    runs on the bounded dim, never the corpus.  The same shape at 10^12
    tokens: one shuffle of <= buckets*tasks partial rows.
    """
    from pyspark.sql import Window

    def side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.explode(F.filter(words(F.col("text")), lambda w: w != "")).alias("w")
        ).select(
            F.pmod(portable_hash32(F.col("w")), F.lit(buckets)).alias("bucket"),
            F.lit(tag).alias("side"),
        )

    t = side(old, "old").unionByName(side(new, "new"))
    dim = t.groupBy("bucket").agg(
        F.sum(F.when(F.col("side") == "old", 1).otherwise(0)).alias("old_n"),
        F.sum(F.when(F.col("side") == "new", 1).otherwise(0)).alias("new_n"),
    )
    tot = Window.partitionBy()  # over the <= buckets-row dim, never the corpus
    dim = (
        dim.withColumn("old_tot", F.sum("old_n").over(tot))
        .withColumn("new_tot", F.sum("new_n").over(tot))
        .withColumn(
            "old_bp", F.expr(f"(old_n * {DRIFT_SCALE}) div old_tot").cast("long")
        )
        .withColumn(
            "new_bp", F.expr(f"(new_n * {DRIFT_SCALE}) div new_tot").cast("long")
        )
        .withColumn("delta_bp", (F.col("new_bp") - F.col("old_bp")).cast("long"))
    )
    rank = Window.orderBy(F.abs(F.col("delta_bp")).desc(), F.col("bucket").asc())
    return (
        dim.withColumn("mover_rank", F.row_number().over(rank))
        .where(F.col("mover_rank") <= top_k)
        .select("bucket", "old_n", "new_n", "old_bp", "new_bp", "delta_bp")
        .orderBy(F.abs(F.col("delta_bp")).desc(), "bucket")
    )


# ---------------------------------------------------------------------------
# Exact per-source length quantiles (corpus datasheet extension)
# ---------------------------------------------------------------------------

QUANTILE_PCTS = (25, 50, 75, 90, 99)


def length_quantiles(documents: DataFrame) -> DataFrame:
    """Exact token-length quantiles per source — the release-datasheet
    companion of corpus_datasheet (means hide the shape; shard sizing and
    packing need the tails).

    Quantile definition is rank-based and engine-portable: the value at
    row ceil(p*n/100) of the (n_tokens asc, doc_id asc) order — the lower
    quantile with a deterministic tie-break, identical arithmetic in the
    DuckDB twin (ceil as (p*n + 99) div 100: both engines' integer
    division agree on non-negative operands; a negated-floor ceil would
    diverge, Spark div truncates while DuckDB // floors).

    Returns (source, n_docs, p25, p50, p75, p90, p99).

    Scale: ONE shuffle — the per-source window sort; exact quantiles
    parallelize across sources, which is the real sharding dimension of a
    crawl corpus.  For a single 10^12-row source the exact sort is the
    cost of a global sort: swap to approx_percentile (engine-specific
    sketch, so the exact form is what the cross-engine oracle checks) —
    the same exact/approx split as corpus_datasheet vs _approx.
    """
    from pyspark.sql import Window

    toks = documents.select(
        "doc_id",
        "source",
        F.size(words(F.col("text"))).cast("long").alias("v"),
    )
    w = Window.partitionBy("source").orderBy("v", "doc_id")
    cnt = Window.partitionBy("source")
    ranked = toks.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_docs", F.count("*").over(cnt)
    )
    aggs = [F.max("n_docs").cast("long").alias("n_docs")]
    for p in QUANTILE_PCTS:
        target = F.expr(f"({p} * n_docs + 99) div 100")
        aggs.append(
            F.max(F.when(F.col("rn") == target, F.col("v")))
            .cast("long")
            .alias(f"p{p}")
        )
    return ranked.groupBy("source").agg(*aggs).orderBy("source")


# ---------------------------------------------------------------------------
# Inverted index (capped posting lists)
# ---------------------------------------------------------------------------

INDEX_MIN_DF = 3       # terms in fewer docs are tail noise for the index
INDEX_POSTINGS_K = 5   # postings kept per term (production: ~10^3-10^4)


def inverted_index(
    documents: DataFrame,
    min_df: int = INDEX_MIN_DF,
    k: int = INDEX_POSTINGS_K,
) -> DataFrame:
    """Capped inverted index over the corpus: per term, document frequency
    and the top-k postings by (tf desc, doc_id asc) — the transposed
    complement of per-doc keyword extraction, and the search/retrieval
    artifact a curated corpus ships for audit ("which docs dominate this
    term?").

    Returns (term, dfreq, postings) where postings is 'doc:tf|doc:tf|...'
    in rank order.

    Scale design: explode (narrow) -> ONE map-side-combined groupBy
    (term, doc_id) for tf -> df window + rank window per term.  The
    per-term cap is applied BEFORE collecting postings, so no mega-term
    posting list ever materializes (the same bound as the anchor-text
    mega-target cap in linkgraph); min_df prunes the long tail where rank
    windows would dominate.  Per-term windows parallelize across the
    vocabulary — there is no global sort.
    """
    from pyspark.sql import Window

    tf = (
        documents.select(
            "doc_id", F.explode(words(F.col("text"))).alias("term")
        )
        .where(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    per_term = Window.partitionBy("term")
    rank_w = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    ranked = (
        tf.withColumn("dfreq", F.count("*").over(per_term).cast("long"))
        .where(F.col("dfreq") >= min_df)
        .withColumn("rn", F.row_number().over(rank_w))
        .where(F.col("rn") <= k)
    )
    return (
        ranked.groupBy("term", "dfreq")
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "doc_id", "tf"))
                    ),
                    lambda s: F.concat_ws(
                        ":", s.doc_id.cast("string"), s.tf.cast("string")
                    ),
                ),
            ).alias("postings")
        )
        .orderBy("term")
    )


# ---------------------------------------------------------------------------
# BPE merge induction (tokenizer training on the corpus)
# ---------------------------------------------------------------------------

BPE_MERGES = 4  # merges learned in the demo query; production merge counts
# (10^4-10^5) go through bpe_fit_local — one corpus pass, driver-side loop


def bpe_merges(documents: DataFrame, k: int = BPE_MERGES) -> DataFrame:
    """Learn the first k byte-pair-encoding merges from the corpus
    (Sennrich et al., ACL 2016): repeatedly count adjacent symbol pairs
    over the word-frequency dictionary and merge the most frequent pair,
    ties broken (count desc, left asc, right asc).

    Returns (rank, left, right, pair_count) — the learned merge table, the
    artifact a tokenizer trainer ships.

    Scale design: BPE training operates on the AGGREGATED word-frequency
    dict, not the corpus — one corpus-scale groupBy builds it (map-side
    combined, output = vocabulary-sized), and every merge iteration is a
    vocab-sized explode + groupBy; the argmax row is a driver scalar per
    iteration (the fit-small pattern, same as kmeans centroids).  The
    merge itself is a JVM aggregate() fold over each word's symbol array —
    the accumulator merge (join out[-1] with the incoming symbol when they
    form the pair) is exactly the left-to-right greedy scan because a
    just-merged symbol l||r can never equal l (r is non-empty).
    """
    rows, _ = _bpe_train(documents, k)
    return documents.sparkSession.createDataFrame(
        rows, "rank long, left string, right string, pair_count long"
    ).orderBy("rank")


def _bpe_train(documents: DataFrame, k: int):
    """Shared trainer: returns (merge rows, final vocab frame with the
    word key retained) so bpe_merges and bpe_apply run the SAME fold."""
    from pyspark.sql import Row

    vocab = (
        documents.select(F.explode(words(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .withColumn("syms", F.split(F.col("w"), ""))
        .select("w", "syms", "freq")
        .localCheckpoint()  # vocab-sized; truncates the corpus lineage
    )
    out: list[Row] = []
    for rank in range(1, k + 1):
        idx = F.when(
            F.size("syms") >= 2, F.sequence(F.lit(0), F.size("syms") - 2)
        ).otherwise(F.array().cast("array<int>"))
        pairs = vocab.select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at(F.col("syms"), i + 1).alias("l"),
                        F.element_at(F.col("syms"), i + 2).alias("r"),
                    ),
                )
            ).alias("p"),
            F.col("freq"),
        )
        best = (
            pairs.groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        b = best[0]
        out.append(
            Row(rank=rank, left=b["l"], right=b["r"], pair_count=int(b["cnt"]))
        )
        l_lit, r_lit = F.lit(b["l"]), F.lit(b["r"])
        merged = F.aggregate(
            F.col("syms"),
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == l_lit)
                & (x == r_lit),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1),
                    F.array(F.concat(l_lit, r_lit)),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = vocab.select("w", merged.alias("syms"), "freq").localCheckpoint()
    return out, vocab


BPE_VOCAB_CAP = 65536  # words kept in the driver-local trainer's head


def _bpe_merge_word(syms: list[str], left: str, right: str) -> list[str]:
    """Python twin of _bpe_train's JVM aggregate() fold: one left-to-right
    greedy scan merging (left, right) occurrences; a just-merged symbol
    l||r can never re-match l in the same pass (r is non-empty), which is
    exactly the fold's accumulator rule."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == left and x == right:
            out[-1] = left + right
        else:
            out.append(x)
    return out


def bpe_fit_local(
    documents: DataFrame, k: int = BPE_MERGES, vocab_cap: int = BPE_VOCAB_CAP
) -> list[tuple[int, str, str, int]]:
    """The PRODUCTION fit path (r3 verdict item 2): ONE distributed
    word-count pass, collect the frequency-capped head of the vocabulary
    (top ``vocab_cap`` words by (freq desc, word asc) — the deterministic
    frequency floor every real tokenizer trainer applies), then run ALL k
    merge rounds driver-side over that head.  Returns the merge table as
    plain rows [(rank, left, right, pair_count), ...] ready to broadcast.

    Why: _bpe_train is the oracle-checked REFERENCE face, but it spends one
    distributed vocab scan + a 1-row collect PER MERGE — correct at the
    demo k=4, a scale-killer at production k=10^4-10^5 (10^5 Spark jobs).
    Here the corpus is touched exactly once regardless of k; each merge
    round is an O(|head| * avg_word_len) dict pass on the driver (the same
    fit-small/apply-big split as kmeans_fit — the merge loop is the Lloyd
    loop of tokenizer training).  Words below the cap simply don't vote on
    merge selection (at real corpus scale the head holds every word with
    more than a handful of occurrences; the tail is hapax noise), and
    bpe_apply_local still tokenizes them by applying the learned merges.

    Equivalence: with ``vocab_cap`` >= |vocab| this reproduces _bpe_train's
    merge table EXACTLY — same pair counting (every adjacent position,
    freq-weighted), same (count desc, left asc, right asc) tie-break, same
    greedy left-to-right merge scan (pytest pins it on the demo corpus)."""
    head = (
        documents.select(F.explode(words(F.col("text"))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("w").asc())
        .limit(vocab_cap)
        .collect()
    )
    vocab: list[tuple[list[str], int]] = [
        (list(r["w"]), int(r["freq"])) for r in head
    ]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, left, right, cnt))
        vocab = [(_bpe_merge_word(s, left, right), f) for s, f in vocab]
    return merges


def bpe_merges_local(
    documents: DataFrame, k: int = BPE_MERGES, vocab_cap: int = BPE_VOCAB_CAP
) -> DataFrame:
    """bpe_merges' output shape over the driver-local production fit —
    hash-checked against the SAME oracle as the distributed trainer (the
    two fits are equivalent whenever the cap covers the vocabulary)."""
    return documents.sparkSession.createDataFrame(
        bpe_fit_local(documents, k, vocab_cap),
        "rank long, left string, right string, pair_count long",
    ).orderBy("rank")


def bpe_apply_local(
    documents: DataFrame,
    k: int = BPE_MERGES,
    vocab_cap: int = BPE_VOCAB_CAP,
    merges: list[tuple[int, str, str, int]] | None = None,
) -> DataFrame:
    """APPLY face of bpe_fit_local — same output schema/semantics as
    bpe_apply, built the production way: the merge table (k small tuples)
    is broadcast into ONE Arrow stage that tokenizes each DISTINCT word by
    applying the merges in rank order (each a greedy left-to-right scan —
    identical to the trainer's per-round fold, so head and tail words are
    tokenized by the same rule), then the vocab-sized (word -> n_syms) map
    joins the exploded word stream exactly like bpe_apply.  The corpus is
    touched twice total (word count inside the fit + this explode), never
    per merge.  pytest pins bpe_apply_local == bpe_apply on the demo
    corpus at full cap."""
    from pyspark.sql.functions import pandas_udf

    if merges is None:
        merges = bpe_fit_local(documents, k, vocab_cap)
    pairs = [(left, right) for _rank, left, right, _cnt in merges]

    @pandas_udf("long")
    def n_syms_of(w: pd.Series) -> pd.Series:
        def tok(word: str) -> int:
            syms = list(word)
            for left, right in pairs:
                syms = _bpe_merge_word(syms, left, right)
            return len(syms)

        return w.map(tok)

    dw = documents.select(
        "doc_id", F.explode(words(F.col("text"))).alias("w")
    ).where(F.col("w") != "")
    wmap = (
        dw.select("w").distinct()
        .select(
            "w",
            n_syms_of(F.col("w")).alias("n_syms"),
            F.length("w").cast("long").alias("n_ch"),
        )
    )
    return (
        dw.join(wmap, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_ch").cast("long").alias("n_chars"),
            F.sum("n_syms").cast("long").alias("n_bpe_symbols"),
        )
        .orderBy("doc_id")
    )


def bpe_apply(documents: DataFrame, k: int = BPE_MERGES) -> DataFrame:
    """The APPLY face of bpe_merges — tokenize the corpus with the learned
    merges: (doc_id, n_words, n_chars, n_bpe_symbols).  n_bpe_symbols is
    the sequence length a downstream LM would see; n_chars / n_bpe_symbols
    is the tokenizer's compression ratio, THE metric a tokenizer train run
    reports.

    Scale design: training already produced the merged form of every
    vocabulary word (the same _bpe_train fold — train and apply literally
    share the loop, so they cannot disagree); apply is then one
    vocab-sized map (w -> symbol count) shuffle-joined onto the exploded
    word stream (vocabularies outgrow broadcast at corpus scale — same
    join shape as keyword_extract's df dim) and one map-side-combined
    groupBy(doc_id).  No per-doc fold ever touches the corpus.
    Whitespace-only docs have no words and drop out (both engines)."""
    _, vocab = _bpe_train(documents, k)
    wmap = vocab.select(
        "w",
        F.size("syms").cast("long").alias("n_syms"),
        F.length("w").cast("long").alias("n_ch"),
    )
    dw = documents.select(
        "doc_id", F.explode(words(F.col("text"))).alias("w")
    ).where(F.col("w") != "")
    return (
        dw.join(wmap, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_ch").cast("long").alias("n_chars"),
            F.sum("n_syms").cast("long").alias("n_bpe_symbols"),
        )
        .orderBy("doc_id")
    )


def lang_mismatch_audit(documents: DataFrame) -> DataFrame:
    """Declared-vs-detected language confusion matrix — (declared_lang,
    predicted_lang, n_docs, mismatch).  Crawl metadata lies (server headers
    and <html lang> routinely disagree with the content); this is the
    release-audit artifact that quantifies it before the lang column is
    trusted by stratified sampling or mixture weights.

    Zero joins: the prediction is the same in-scan Column lang_id uses
    (shared via predicted_lang_col, so audit and per-doc op cannot
    diverge), and the only shuffle is a map-side-combined groupBy onto a
    |langs|^2-bounded dim — at 10^12 docs this is one pass."""
    return (
        documents.select(
            F.col("lang").alias("declared_lang"),
            predicted_lang_col().alias("predicted_lang"),
        )
        .groupBy("declared_lang", "predicted_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .withColumn(
            "mismatch", F.col("declared_lang") != F.col("predicted_lang")
        )
        .orderBy("declared_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# Unicode-script distribution (the multilingual release audit lang-id can't
# give: stopword lists only cover Latin-alphabet languages, so script
# counting is the first signal for ru/ar/zh/ko content)
# ---------------------------------------------------------------------------

# Literal char-class ranges built from codepoints so ONE constant feeds both
# engines verbatim (Java regex wants \uXXXX, RE2 wants \x{....} — actual
# UTF-8 range endpoints are the portable common subset).  BMP blocks only;
# supplementary-plane CJK is rare enough to fold into 'other' here.
SCRIPT_RANGES = {
    "latin": f"[A-Za-z{chr(0x00C0)}-{chr(0x024F)}]",
    "cyrillic": f"[{chr(0x0400)}-{chr(0x04FF)}]",
    "arabic": f"[{chr(0x0600)}-{chr(0x06FF)}]",
    "cjk": f"[{chr(0x4E00)}-{chr(0x9FFF)}{chr(0x3040)}-{chr(0x30FF)}]",
    "hangul": f"[{chr(0xAC00)}-{chr(0xD7AF)}]",
}
# injection samples per script (interpolated into the oracle's synthesis)
SCRIPT_SAMPLES = {
    "cyrillic": "привет мир",
    "arabic": "مرحبا بالعالم",
    "cjk": "你好世界 こんにちは",
    "hangul": "안녕하세요 세계",
}


def with_script_mix(documents: DataFrame) -> DataFrame:
    """Synthesis: doc_id%5==1..4 appends one non-Latin sample (cyrillic /
    arabic / cjk / hangul in that order); %5==0 stays Latin-only."""
    d = F.col("doc_id")
    keys = list(SCRIPT_SAMPLES)
    expr = F.col("text")
    out = (
        F.when(d % 5 == 1, F.concat(expr, F.lit(" " + SCRIPT_SAMPLES[keys[0]])))
        .when(d % 5 == 2, F.concat(expr, F.lit(" " + SCRIPT_SAMPLES[keys[1]])))
        .when(d % 5 == 3, F.concat(expr, F.lit(" " + SCRIPT_SAMPLES[keys[2]])))
        .when(d % 5 == 4, F.concat(expr, F.lit(" " + SCRIPT_SAMPLES[keys[3]])))
        .otherwise(expr)
    )
    return documents.withColumn("text", out)


def script_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, latin_chars, cyrillic_chars, arabic_chars, cjk_chars,
    hangul_chars, dominant_script) — per-script char counts (one JVM regexp
    pass per class, whole-stage codegen, zero Python/zero shuffle) and the
    argmax with 'latin' fallback; strictly-greater comparisons in the
    fixed order cyrillic > arabic > cjk > hangul make ties deterministic.
    The oracle runs the IDENTICAL range patterns (shared constants)."""
    counts = {
        k: F.size(
            F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0))
        ).cast("long")
        for k, p in SCRIPT_RANGES.items()
    }
    la, cy, ar, cj, ha = (counts[k] for k in
                          ("latin", "cyrillic", "arabic", "cjk", "hangul"))
    dominant = (
        F.when((cy > la) & (cy >= ar) & (cy >= cj) & (cy >= ha), "cyrillic")
        .when((ar > la) & (ar > cy) & (ar >= cj) & (ar >= ha), "arabic")
        .when((cj > la) & (cj > cy) & (cj > ar) & (cj >= ha), "cjk")
        .when((ha > la) & (ha > cy) & (ha > ar) & (ha > cj), "hangul")
        .otherwise(F.lit("latin"))
    )
    return documents.select(
        "doc_id",
        counts["latin"].alias("latin_chars"),
        counts["cyrillic"].alias("cyrillic_chars"),
        counts["arabic"].alias("arabic_chars"),
        counts["cjk"].alias("cjk_chars"),
        counts["hangul"].alias("hangul_chars"),
        dominant.alias("dominant_script"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Unigram-LM surprisal scoring (the CCNet perplexity-filter analog)
# ---------------------------------------------------------------------------

SURPRISAL_REF_MOD = 5   # doc_id % mod == 0 -> the "clean reference" slice
SURPRISAL_TIERS = 3     # CCNet's head / middle / tail


def lm_surprisal(
    documents: DataFrame, ref_mod: int = SURPRISAL_REF_MOD
) -> DataFrame:
    """Per-document unigram-LM surprisal and the CCNet head/middle/tail
    bucket — the perplexity filter (Wenzek et al., CCNet): train a small LM
    on a clean reference corpus, score every crawl document, keep the
    low-perplexity head for training.  The reference slice here is the
    deterministic doc_id % ref_mod == 0 subset (the Wikipedia stand-in);
    production swaps in a curated table, the plan is identical.

    Exact-integer surprisal — no log, no float, no cross-engine hash hazard:
    per-token bits = floor(log2((N + V) div (c_t + 1))) computed as
    length(bin(q)) - 1 over the Laplace-smoothed integer quotient
    (c_t = reference count, 0 for OOV; N = reference tokens, V = reference
    vocab).  Monotone in the real -log p up to integer floors, applied
    identically in DuckDB (bin() exists in both engines).  Per-doc mean is
    integer centibits: mean_cb = (100 * bits_sum) div n_toks.

    Buckets are value-terciles of mean_cb via the quality_tiers histogram
    doctrine (mean_cb has a bounded integer domain, so the cumulative
    window runs over a tiny value dim, never a corpus-wide ORDER BY);
    head = lowest surprisal = most reference-like.

    Plan: vocab-sized reference count dim (one map-side-combined groupBy)
    -> per-term bits in the dim (1-row model crossJoin onto the VOCAB, not
    the token stream) -> token stream LEFT-joins the dim (OOV rows keep
    null) -> per-doc groupBy folds known bits + OOV count -> the 1-row
    model crossJoins the DOC-level aggregate to price OOV tokens at the
    constant OOV bits.  Shuffles: ref groupBy, stream-dim join, doc
    groupBy, histogram — all keyed, none corpus-ordered.
    """
    from pyspark.sql import Window

    toks = words(F.lower(F.col("text")))
    ucnt = (
        documents.where(F.col("doc_id") % ref_mod == 0)
        .select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    model = ucnt.agg(
        F.sum("c").cast("long").alias("n_model"),
        F.count("*").cast("long").alias("v_model"),
    )
    term_bits = ucnt.crossJoin(model).select(
        "term",
        (F.length(F.bin(F.expr(
            "greatest((n_model + v_model) div (c + 1), 1)"
        ))) - 1).cast("long").alias("bits"),
    )
    stream = documents.select("doc_id", F.explode(toks).alias("term"))
    per_doc = (
        stream.join(term_bits, "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.coalesce(F.sum("bits"), F.lit(0)).cast("long").alias("known_sum"),
            F.sum(F.when(F.col("bits").isNull(), 1).otherwise(0))
            .cast("long").alias("n_oov"),
        )
        .crossJoin(model)
        .select(
            "doc_id", "n_toks", "n_oov",
            (F.col("known_sum") + F.col("n_oov") * (
                F.length(F.bin(F.expr(
                    "greatest(n_model + v_model, 1)"
                ))) - 1
            )).cast("long").alias("bits_sum"),
        )
        .withColumn(
            "mean_cb", F.expr("(100 * bits_sum) div n_toks").cast("long")
        )
    )
    return (
        per_doc.join(F.broadcast(_cb_tiers(per_doc)), "mean_cb")
        .select(
            "doc_id", "n_toks", "n_oov", "bits_sum", "mean_cb",
            F.when(F.col("tier") == 0, "head")
            .when(F.col("tier") == 1, "middle")
            .otherwise(F.lit("tail")).alias("bucket"),
        )
        .orderBy("doc_id")
    )


def _cb_tiers(per_doc: DataFrame) -> DataFrame:
    """(mean_cb, tier) head/middle/tail value-terciles of mean_cb — the
    quality_tiers histogram doctrine (cumulative window over the bounded
    integer mean_cb value dim, never a corpus ORDER BY); factored out so
    lm_surprisal and lm_surprisal2 share one bucket rule."""
    from pyspark.sql import Window

    hist = per_doc.groupBy("mean_cb").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.col("mean_cb").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "mean_cb",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    ).select(
        "mean_cb",
        F.least(
            F.lit(SURPRISAL_TIERS - 1),
            F.expr(f"({SURPRISAL_TIERS} * cum_before) div total"),
        ).cast("long").alias("tier"),
    )


# --- Naive-Bayes quality classifier (the trained-filter face) ---------------
# CCNet / fastText-style wiki-vs-crawl filtering (Wenzek et al. 2020 §4.3;
# Joulin et al. 2016): train a linear bag-of-words classifier on labeled
# good/bad seed corpora, score every crawl page, keep the pages the model
# says look like the curated side.  Multinomial Naive Bayes IS that linear
# classifier in closed form (per-token log-likelihood-ratio weights + class
# prior), and unlike a gradient-trained fastText it has an exact-integer
# reformulation: the engine's floor-log2 bits doctrine (lm_surprisal) per
# CLASS, decision margin = bits_neg - bits_pos in whole bits.  Labeled seeds
# here are deterministic doc_id slices (production swaps a labeled dim; the
# plan is identical).
NB_POS_MOD = 7  # curated-reference stand-in: doc_id % 7 == 0
NB_NEG_REM = 3  # raw-crawl-reference stand-in: doc_id % 7 == 3


def nb_quality_classifier(
    documents: DataFrame, pos_mod: int = NB_POS_MOD, neg_rem: int = NB_NEG_REM
) -> DataFrame:
    """Per-document NB class scores and the keep/drop verdict.

    Exact-integer scoring — no log, no float, no cross-engine hash hazard:
    per-token bits under class c = floor(log2((N_c + V) div (c_{t,c} + 1)))
    over the Laplace-smoothed integer quotient (shared vocabulary V = the
    union of both seed vocabularies, so smoothing mass is symmetric); OOV
    tokens price at the c=0 constant of each class.  margin =
    bits_neg - bits_pos: positive means the document is cheaper to encode
    under the curated-seed LM than under the crawl-seed LM -> keep.  The
    monotone floor preserves NB's per-token evidence ordering up to whole
    bits, and every compared column is BIGINT on both engines.

    Scale plan (lm_surprisal doctrine): ONE pass over the two seed slices
    builds the (term, c_pos, c_neg) dim via a conditional groupBy (map-side
    combined, vocab-sized); both per-term bit columns are computed IN the
    dim against the 1-row model; the token stream LEFT-joins the dim and
    folds per doc_id; OOV tokens are priced per doc via the 1-row model
    crossJoin.  Shuffles: seed groupBy(term), stream-dim join, groupBy
    (doc_id) — all keyed, none corpus-ordered, no skew beyond the hottest
    vocabulary term (absorbed by the partial aggregate)."""
    toks = words(F.lower(F.col("text")))
    stream = documents.select("doc_id", F.explode(toks).alias("term"))
    is_pos = F.col("doc_id") % pos_mod == 0
    is_neg = F.col("doc_id") % pos_mod == neg_rem
    refcnt = (
        stream.where(is_pos | is_neg)
        .groupBy("term")
        .agg(
            F.sum(F.when(is_pos, 1).otherwise(0)).cast("long").alias("c_pos"),
            F.sum(F.when(is_neg, 1).otherwise(0)).cast("long").alias("c_neg"),
        )
    )
    model = refcnt.agg(
        F.sum("c_pos").cast("long").alias("n_pos"),
        F.sum("c_neg").cast("long").alias("n_neg"),
        F.count("*").cast("long").alias("v_model"),
    )
    dim = refcnt.crossJoin(model).select(
        "term",
        (F.length(F.bin(F.expr(
            "greatest((n_pos + v_model) div (c_pos + 1), 1)"
        ))) - 1).cast("long").alias("bp"),
        (F.length(F.bin(F.expr(
            "greatest((n_neg + v_model) div (c_neg + 1), 1)"
        ))) - 1).cast("long").alias("bn"),
    )
    per_doc = (
        stream.join(dim, "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.coalesce(F.sum("bp"), F.lit(0)).cast("long").alias("known_bp"),
            F.coalesce(F.sum("bn"), F.lit(0)).cast("long").alias("known_bn"),
            F.sum(F.when(F.col("bp").isNull(), 1).otherwise(0))
            .cast("long").alias("n_oov"),
        )
        .crossJoin(model)
        .select(
            "doc_id", "n_toks", "n_oov",
            (F.col("known_bp") + F.col("n_oov") * (
                F.length(F.bin(F.expr("greatest(n_pos + v_model, 1)"))) - 1
            )).cast("long").alias("bits_pos"),
            (F.col("known_bn") + F.col("n_oov") * (
                F.length(F.bin(F.expr("greatest(n_neg + v_model, 1)"))) - 1
            )).cast("long").alias("bits_neg"),
        )
    )
    return (
        per_doc.withColumn(
            "margin", (F.col("bits_neg") - F.col("bits_pos")).cast("long")
        )
        .withColumn(
            "label",
            F.when(F.col("margin") >= 0, F.lit("keep")).otherwise(F.lit("drop")),
        )
        .orderBy("doc_id")
    )


VG_CHECKPOINTS = 8  # prefix ladder: prefix i = docs with doc_id*K < i*N


def vocab_growth(documents: DataFrame, n_checkpoints: int = VG_CHECKPOINTS) -> DataFrame:
    """Heaps/Herdan vocabulary-growth curve: distinct-type count after each
    ingest prefix of the corpus — the release-audit table behind "is this
    crawl slice adding NEW vocabulary or re-crawling the same text?" (a
    flattening curve says the source is exhausted; Heaps' law V ~ K*n^beta
    says a healthy one keeps a power-law slope).  Consumers fit beta from
    the exact (n_tokens, vocab) pairs; no float ever computed here.

    Prefix rule (pinned, both engines, pure integers): prefix i holds docs
    with doc_id * K < i * N where N = max(doc_id)+1 — exactly the first
    i/K-th of a dense id space, approximate under id gaps, and free of the
    floor-vs-ceil boundary mismatch a precomputed-quantile ladder invites.

    Plan: per-term min(doc_id) is ONE map-side-combinable groupBy on the
    vocab key (the only corpus-scale shuffle — first-seen is an algebraic
    min, never a sort); both the doc and vocab histograms then bucket into
    the K-row ladder and cumulative-sum over it (quality_tiers histogram
    doctrine: windows only ever run on the bounded ladder dim, never the
    corpus).  The ladder is generated (spark.range) so empty buckets
    survive as zero rows.

    Returns (ckpt, n_docs, n_tokens, vocab) — all exact BIGINTs, one row
    per ladder step, ordered by ckpt."""
    from pyspark.sql import Window

    spark = documents.sparkSession
    k = int(n_checkpoints)
    n = documents.agg(F.max("doc_id")).first()[0]
    if n is None:
        return spark.createDataFrame(
            [], "ckpt int, n_docs long, n_tokens long, vocab long")
    big_n = int(n) + 1
    ladder = spark.range(1, k + 1).select(F.col("id").cast("int").alias("ckpt"))
    w = Window.orderBy("ckpt").rowsBetween(Window.unboundedPreceding, 0)

    # integer div, never float-divide-then-truncate (exactness doctrine)
    bucket = F.expr(f"(doc_id * {k}) div {big_n}") + 1
    per_doc = documents.select(
        bucket.alias("b"),
        F.size(words(F.col("text"))).cast("long").alias("n_toks"),
    ).groupBy("b").agg(
        F.count("*").alias("nd"), F.sum("n_toks").alias("nt"))
    first_seen = (
        documents.select(
            "doc_id", F.explode(words(F.lower(F.col("text")))).alias("term"))
        .groupBy("term").agg(F.min("doc_id").alias("fs"))
        .select((F.expr(f"(fs * {k}) div {big_n}") + 1).alias("b"))
        .groupBy("b").agg(F.count("*").alias("nv"))
    )
    return (
        ladder
        .join(per_doc, ladder.ckpt == per_doc.b, "left").drop("b")
        .join(first_seen, ladder.ckpt == first_seen.b, "left").drop("b")
        .select(
            "ckpt",
            F.sum(F.coalesce("nd", F.lit(0))).over(w).cast("long").alias("n_docs"),
            F.sum(F.coalesce("nt", F.lit(0))).over(w).cast("long").alias("n_tokens"),
            F.sum(F.coalesce("nv", F.lit(0))).over(w).cast("long").alias("vocab"),
        )
        .orderBy("ckpt")
    )


BACKOFF_BITS = 2  # stupid-backoff penalty in bits (alpha = 1/4 analog)


def lm_surprisal2(
    documents: DataFrame, ref_mod: int = SURPRISAL_REF_MOD
) -> DataFrame:
    """Bigram-LM surprisal with unigram backoff — the natural deepening of
    lm_surprisal (CCNet's filter in production is a 5-gram KenLM; the
    bigram-with-backoff form captures the first-order structure a unigram
    model cannot: 'the the the' scores fluent under unigrams and garbage
    under bigrams) while keeping every quantity an exact integer.

    Scoring, all via the length(bin(q))-1 integer log2:
    - first token of a doc: unigram bits (no context);
    - token w after p with (p, w) SEEN in the reference: bigram bits =
      floor(log2((c1(p) + V) div (c2(p,w) + 1))) — Laplace over the
      context row;
    - unseen bigram: BACKOFF_BITS + unigram bits of w (stupid backoff
      with an integer penalty; unigram bits price OOV at the same
      floor(log2(N + V)) constant as lm_surprisal).

    (doc_id, n_toks, n_bigram_hits, bits_sum, mean_cb, bucket) with the
    SAME _cb_tiers tercile rule as the unigram op.

    Plan: reference bigram dim (one groupBy) joins the context's unigram
    count ON THE DIM (vocab-bounded, never the stream); the corpus bigram
    stream (one in-scan transform, no window/lag — the pmi_collocations
    shape) left-joins the bigram-bits dim and the unigram-bits dim (two
    keyed shuffles); first tokens ride a separate slim stream; one per-doc
    groupBy folds both.  Nothing corpus-ordered anywhere."""
    toks = words(F.lower(F.col("text")))

    # reference models
    ref = documents.where(F.col("doc_id") % ref_mod == 0)
    ucnt = (
        ref.select(F.explode(toks).alias("term"))
        .groupBy("term").agg(F.count("*").cast("long").alias("c"))
    )
    model = ucnt.agg(
        F.sum("c").cast("long").alias("n_model"),
        F.count("*").cast("long").alias("v_model"),
    )
    term_bits = ucnt.crossJoin(model).select(
        "term",
        (F.length(F.bin(F.expr(
            "greatest((n_model + v_model) div (c + 1), 1)"
        ))) - 1).cast("long").alias("ubits"),
    )
    pair = F.when(F.size(toks) < 2, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("p"),
                F.element_at(toks, i + 2).alias("w"),
            ),
        )
    )
    bcnt = (
        ref.select(F.explode(pair).alias("b"))
        .select("b.p", "b.w")
        .groupBy("p", "w").agg(F.count("*").cast("long").alias("c2"))
    )
    big_bits = (
        bcnt.join(ucnt.select(F.col("term").alias("p"),
                              F.col("c").alias("c1p")), "p")
        .crossJoin(model)
        .select(
            "p", "w",
            (F.length(F.bin(F.expr(
                "greatest((c1p + v_model) div (c2 + 1), 1)"
            ))) - 1).cast("long").alias("bbits"),
        )
    )

    # corpus streams
    big_stream = documents.select("doc_id", F.explode(pair).alias("b")).select(
        "doc_id", "b.p", "b.w")
    scored_pairs = (
        big_stream
        .join(big_bits, ["p", "w"], "left")
        .join(term_bits.select(F.col("term").alias("w"), "ubits"), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("bbits").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_bigram_hits"),
            F.coalesce(F.sum(F.when(F.col("bbits").isNotNull(), F.col("bbits"))),
                       F.lit(0)).cast("long").alias("hit_sum"),
            # backoff lanes: known-unigram misses and OOV misses
            F.coalesce(F.sum(F.when(
                F.col("bbits").isNull() & F.col("ubits").isNotNull(),
                F.col("ubits") + BACKOFF_BITS)), F.lit(0))
            .cast("long").alias("miss_known_sum"),
            F.sum(F.when(F.col("bbits").isNull() & F.col("ubits").isNull(), 1)
                  .otherwise(0)).cast("long").alias("miss_oov"),
        )
    )
    firsts = (
        documents.select(
            "doc_id", F.element_at(toks, 1).alias("w"),
            F.size(toks).cast("long").alias("n_toks"),
        )
        .join(term_bits.select(F.col("term").alias("w"), "ubits"), "w", "left")
        .select(
            "doc_id", "n_toks",
            F.coalesce("ubits", F.lit(None)).alias("first_ubits"),
            F.col("ubits").isNull().alias("first_oov"),
        )
    )
    oov_const = (F.length(F.bin(F.expr("greatest(n_model + v_model, 1)"))) - 1)
    per_doc = (
        firsts.join(scored_pairs, "doc_id", "left")
        .crossJoin(model)
        .select(
            "doc_id", "n_toks",
            F.coalesce("n_bigram_hits", F.lit(0)).alias("n_bigram_hits"),
            (
                F.coalesce("first_ubits", oov_const)
                + F.coalesce("hit_sum", F.lit(0))
                + F.coalesce("miss_known_sum", F.lit(0))
                + F.coalesce("miss_oov", F.lit(0))
                  * (oov_const + F.lit(BACKOFF_BITS))
            ).cast("long").alias("bits_sum"),
        )
        .withColumn(
            "mean_cb", F.expr("(100 * bits_sum) div n_toks").cast("long")
        )
    )
    return (
        per_doc.join(F.broadcast(_cb_tiers(per_doc)), "mean_cb")
        .select(
            "doc_id", "n_toks", "n_bigram_hits", "bits_sum", "mean_cb",
            F.when(F.col("tier") == 0, "head")
            .when(F.col("tier") == 1, "middle")
            .otherwise(F.lit("tail")).alias("bucket"),
        )
        .orderBy("doc_id")
    )


def tokenizer_fertility(documents: DataFrame) -> DataFrame:
    """Per-language tokenizer fertility — the multilingual-fairness release
    stat (a tokenizer that spends 3x the subwords per word on one language
    taxes that language 3x per context window; fertility disparity tables
    are standard in multilingual model cards): per lang, whitespace words,
    BPE-ish pretoken runs (the shared BPE_PRETOKEN_RE classes), chars, and
    the two ratios in exact integer basis points — fertility_bp =
    10000 * pretokens div words, chars_per_pretoken_bp = 10000 * chars div
    pretokens.

    One in-scan regexp/size pass + ONE map-side-combined groupBy on the
    lang dim; no floats (integer-div bp, the domain-prior doctrine)."""
    toks = words(F.col("text"))
    runs = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0))).cast("long")
    per = documents.select(
        "lang",
        F.size(toks).cast("long").alias("n_words"),
        runs.alias("n_pre"),
        F.length("text").cast("long").alias("n_chars"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_pre").cast("long").alias("n_pretokens"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )
        .select(
            "lang", "n_docs", "n_words", "n_pretokens", "n_chars",
            F.expr("(10000 * n_pretokens) div n_words")
            .cast("long").alias("fertility_bp"),
            F.expr("(10000 * n_chars) div n_pretokens")
            .cast("long").alias("chars_per_pretoken_bp"),
        )
        .orderBy("lang")
    )


QUANTILE_SKETCH_ERR = 0.01  # percentile_approx accuracy (1/accuracy param)


def length_quantiles_approx(documents: DataFrame) -> DataFrame:
    """The sketch face of length_quantiles — percentile_approx
    (Greenwald-Khanna) instead of the exact rank pick: at 10^12 rows the
    exact form's per-source rank window sorts every source's doc list,
    while the GK sketch is one mergeable accumulator per source (a
    map-side-combinable agg, no sort anywhere).  Same output shape as the
    exact op; like the datasheet's HLL face it is rows-only by design
    (sketch internals are engine-specific) and pytest holds every reported
    quantile inside the exact op's neighboring-rank band."""
    toks = F.size(words(F.col("text"))).cast("long")
    acc = int(1 / QUANTILE_SKETCH_ERR)
    per = documents.select("source", toks.alias("n_tokens"))
    ps = [25, 50, 75, 90, 99]
    return (
        per.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            *[F.percentile_approx("n_tokens", p / 100.0, acc)
              .cast("long").alias(f"p{p}") for p in ps],
        )
        .orderBy("source")
    )


def length_quantiles_audit(documents: DataFrame) -> DataFrame:
    """Hash-checkable band verdict over the GK quantile face (r3 verdict
    item 3): joins length_quantiles_approx to the exact op and emits one
    boolean per percentile — the SAME exact-envelope band the pytest pins
    (each sketch quantile must land between its exact neighbors:
    p25 in [0.5 x exact_p25, exact_p50], p50 in [exact_p25, exact_p75],
    p75 in [exact_p50, exact_p90], p90 in [exact_p75, exact_p99],
    p99 >= exact_p90; plus sketch monotonicity).  Sketch VALUES stay
    engine-side; the exact quantiles and the verdicts are deterministic,
    so the DuckDB oracle recomputes the exact ranks and asserts every
    verdict TRUE — a sketch outside its envelope hash-mismatches.

    Same audit-composition caveat as corpus_datasheet_audit: this face
    pays the exact window sort on purpose; production audits a sample."""
    a = length_quantiles_approx(documents).select(
        "source",
        *[F.col(f"p{p}").alias(f"a{p}") for p in (25, 50, 75, 90, 99)],
    )
    e = length_quantiles(documents)
    return (
        e.join(a, "source")
        .select(
            "source", "n_docs", "p25", "p50", "p75", "p90", "p99",
            ((F.col("a25") * 2 >= F.col("p25")) & (F.col("a25") <= F.col("p50")))
            .alias("p25_in"),
            F.col("a50").between(F.col("p25"), F.col("p75")).alias("p50_in"),
            F.col("a75").between(F.col("p50"), F.col("p90")).alias("p75_in"),
            F.col("a90").between(F.col("p75"), F.col("p99")).alias("p90_in"),
            (F.col("a99") >= F.col("p90")).alias("p99_in"),
            ((F.col("a25") <= F.col("a50")) & (F.col("a50") <= F.col("a75"))
             & (F.col("a75") <= F.col("a90")) & (F.col("a90") <= F.col("a99")))
            .alias("monotone"),
        )
        .orderBy("source")
    )


def ngram_novelty(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty against everything ingested BEFORE it:
    the memorization-risk / marginal-value stat (a doc whose shingles all
    appeared earlier adds compression fodder, not signal — near the dup
    family but graded, and ordered: the SAME page is 100% novel as doc 3
    and 0% novel as doc 300, which is what 'marginal' means).

    (doc_id, n_shingles, n_novel, novelty_bp): a shingle counts as novel
    for the SMALLEST doc_id carrying it (distinct-per-doc shingles, the
    dedup family's array_distinct rule); novelty_bp exact integer.

    Plan: first-seen = ONE algebraic min-groupBy on the shingle key (the
    vocab_growth shape on shingles), joined back to the per-doc distinct
    stream, one per-doc count rollup.  No ordering shuffle anywhere — the
    'before' relation rides entirely on min(doc_id)."""
    from pdf_parser_spark.functions import word_shingles

    sh = documents.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), n))).alias("s"),
    )
    first_seen = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sh.join(first_seen, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                  .otherwise(0)).cast("long").alias("n_novel"),
        )
    )
    return (
        per.select(
            "doc_id", "n_shingles", "n_novel",
            F.expr("(10000 * n_novel) div n_shingles").cast("long")
            .alias("novelty_bp"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (Robertson & Walker; the Lucene idf form)
# ---------------------------------------------------------------------------

BM25_K1_TENTHS = 12    # k1 = 1.2 (Okapi default), stored as integer tenths
BM25_B_HUNDREDTHS = 75  # b = 0.75, stored as integer hundredths
BM25_QUERIES = 12      # 2-term queries derived from the df-top vocabulary
BM25_TOP_K = 5

# Exact-integer coefficients of the tf component.  score_term =
# idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with avgdl = T/N
# (T total tokens, N docs).  Multiplying numerator and denominator by
# 1000*T clears every decimal constant AND the avgdl division:
#   num = 100*(10+K1T) * tf * T
#   den = 1000*tf*T + K1T*(100-B100)*T + K1T*B100*dl*N
# so both engines divide the SAME two BIGINTs — one correctly-rounded
# IEEE division, bit-identical across Spark and DuckDB.  The only libm
# call left is ln() in the idf, guarded by the 4dp round (the
# s_ann_brute doctrine).  BIGINT headroom: the products stay < 2^63 up
# to ~10^8 docs x 10^4 tokens; beyond that production flips the
# expression to double (the cross-engine-exact form is the validation
# face).
_BM25_NUM_C = 100 * (10 + BM25_K1_TENTHS)            # 2200
_BM25_DEN_T = BM25_K1_TENTHS * (100 - BM25_B_HUNDREDTHS)  # 300
_BM25_DEN_DL = BM25_K1_TENTHS * BM25_B_HUNDREDTHS    # 900


def _bm25_scores(documents: DataFrame, qterms: DataFrame) -> DataFrame:
    """The BM25 scoring chain against an EXTERNAL query dim — the
    production path bm25_topk's docstring names: ``qterms`` is
    (query_id, term), df joins from the corpus (terms absent from the
    corpus drop out), candidates come from the tf-index probe, and the
    per-query sum yields (query_id, doc_id, bm25) rounded at 4dp.  Shared
    by bm25_topk (df-top demo queries) and bm25_source_mrr (labeled
    queries), so the two faces score identically by construction."""
    toks = documents.select(
        "doc_id",
        F.explode(F.transform(words(F.col("text")), F.lower)).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("dl"))
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("t_tokens"),
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    qt = qterms.join(dfreq, "term")
    cand = (
        tf.join(F.broadcast(qt), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    num = F.lit(_BM25_NUM_C).cast("long") * F.col("tf") * F.col("t_tokens")
    den = (
        F.lit(1000).cast("long") * F.col("tf") * F.col("t_tokens")
        + F.lit(_BM25_DEN_T).cast("long") * F.col("t_tokens")
        + F.lit(_BM25_DEN_DL).cast("long") * F.col("dl") * F.col("n_docs")
    )
    idf = F.log(
        F.lit(1.0)
        + (2 * F.col("n_docs") - 2 * F.col("df") + 1) / (2 * F.col("df") + 1)
    )
    return cand.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(idf * num / den), 4).alias("bm25")
    )


def bm25_topk(
    documents: DataFrame,
    n_queries: int = BM25_QUERIES,
    k: int = BM25_TOP_K,
) -> DataFrame:
    """Okapi BM25 top-k retrieval over the corpus — the ranked-search face
    of the inverted index (inverted_index stores postings; this SCORES
    them).  Queries are derived deterministically from the corpus itself:
    the 2*n_queries highest-df terms, ranked (df desc, term asc), paired
    consecutively into 2-term queries — two terms exercise the per-term
    sum while keeping it IEEE-commutative (a+b has no order hazard, so
    the aggregation order of the groupBy sum cannot shift the hash).

    idf is the Lucene form ln(1 + (N - df + 0.5)/(df + 0.5)) — always
    positive, so stop-frequency terms dampen rather than flip sign; the
    argument is formed as (2N-2df+1)/(2df+1), a ratio of exact BIGINTs.

    Output: (query_id, q_terms, doc_id, bm25, rank), bm25 rounded to 4dp,
    rank by (bm25 desc, doc_id asc).

    Scale plan: the tf table IS the inverted index (one explode -> one
    map-side-combined groupBy); the query-term dim (2*n_queries rows) and
    the 1-row corpus-stats frame broadcast, so candidate generation is an
    index probe (tf join broadcast terms), never a corpus scan; dl joins
    AFTER the probe so document lengths ship only for candidates; the
    final top-k window partitions by query_id — n_queries-way parallel,
    bounded by sum(df) candidate rows.  The demo query derivation selects
    its top-2Q terms with orderBy().limit() — Spark's distributed
    TakeOrdered, every partition contributes its local top-2Q and only
    2Q rows ever meet — and the row_number that labels them runs over
    those 2Q bounded rows, never the vocabulary-scale df table (the
    pmi_collocations pattern); production supplies its query dim
    externally and skips that stage entirely — scoring itself has no
    global sort and no driver action.
    """
    from pyspark.sql import Window

    toks = documents.select(
        "doc_id",
        F.explode(F.transform(words(F.col("text")), F.lower)).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    top2q = dfreq.orderBy(
        F.col("df").desc(), F.col("term").asc()
    ).limit(2 * n_queries)
    rank_w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    qterms = (
        top2q.withColumn("rn", F.row_number().over(rank_w))
        .select(
            F.expr("(rn + 1) div 2").cast("long").alias("query_id"),
            "rn", "term",
        )
    )
    qdim = qterms.groupBy("query_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "term"))),
                lambda s: s.term,
            ),
        ).alias("q_terms")
    )
    scored = _bm25_scores(documents, qterms.select("query_id", "term"))
    top_w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(top_w).cast("long"))
        .where(F.col("rank") <= k)
        .join(F.broadcast(qdim), "query_id")
        .select("query_id", "q_terms", "doc_id", "bm25", "rank")
        .orderBy("query_id", "rank")
    )


# --- Zipf rank-frequency audit ----------------------------------------------


def zipf_buckets(documents: DataFrame) -> DataFrame:
    """Zipf/rank-frequency audit of the corpus vocabulary — the release
    check beside Heaps' law (vocab_growth): natural text follows
    freq(rank) ~ rank^-1, so type counts per LOG2-frequency bucket form a
    near-geometric ladder; crawl artifacts (template spam, boilerplate
    floods) bend it.  One row per occupied bucket:
    (log2_count, n_types, n_tokens, min_count, max_count, token_share_bp).

    Exact integers only — the bucket is the lm_surprisal floor-log2
    (length(bin(c)) - 1), shares are integer basis points of the corpus
    token total, so the whole table is hash-stable cross-engine.

    Scale: one map-side-combined groupBy(term) builds the frequency table
    (the same shape every textstats op rides), then a groupBy on the ~30
    distinct buckets; the 1-row total joins by crossJoin broadcast."""
    toks = words(F.lower(F.col("text")))
    freq = (
        documents.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("c"))
    )
    bucketed = freq.select(
        (F.length(F.bin(F.col("c"))) - 1).cast("long").alias("log2_count"), "c"
    )
    total = bucketed.agg(F.sum("c").cast("long").alias("n_total"))
    return (
        bucketed.groupBy("log2_count")
        .agg(
            F.count("*").cast("long").alias("n_types"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.min("c").cast("long").alias("min_count"),
            F.max("c").cast("long").alias("max_count"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "log2_count", "n_types", "n_tokens", "min_count", "max_count",
            F.expr("CAST((10000 * n_tokens) div n_total AS BIGINT)")
            .alias("token_share_bp"),
        )
        .orderBy("log2_count")
    )


def filter_agreement(documents: DataFrame) -> DataFrame:
    """Confusion matrix between the TRAINED filter (nb_quality_classifier)
    and the HEURISTIC gate (quality_gate) — the calibration audit every
    pipeline runs before swapping a hand-tuned rule chain for a model: if
    the two disagree on a large slice, somebody reviews that slice before a
    single shard is dropped.  One row per (nb_label, gate_passed) cell with
    the count and the integer-bp share of the corpus.

    Scale: both inputs are per-document projections already audited for
    scale; the join is keyed on doc_id, the matrix groupBy has 4 cells."""
    nb = nb_quality_classifier(documents).select("doc_id", "label")
    gate = quality_gate(documents).select("doc_id", "passed")
    cells = (
        nb.join(gate, "doc_id")
        .groupBy("label", "passed")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    total = cells.agg(F.sum("n_docs").cast("long").alias("n_total"))
    return (
        cells.crossJoin(F.broadcast(total))
        .select(
            F.col("label").alias("nb_label"),
            F.col("passed").alias("gate_passed"),
            "n_docs",
            F.expr("CAST((10000 * n_docs) div n_total AS BIGINT)")
            .alias("share_bp"),
        )
        .orderBy("nb_label", "gate_passed")
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005) — the third
# classic mergeable sketch next to the GK quantiles and HLL distinct faces:
# d x w integer counters, every row a pairwise-independent hash, estimate =
# min over rows.  The guarantee is ONE-SIDED (est >= true always; est <=
# true + eps*N with prob 1-delta), which makes it hash-checkable as exact
# integer verdicts rather than rows-only: overcounts are deterministic
# given fixed hash params, so both engines agree bit-for-bit.
# ---------------------------------------------------------------------------

CMS_D = 4    # rows (delta = e^-4 ~= 1.8%)
CMS_W = 64   # buckets per row (sf-sized; production 2^20+)
CMS_EPS_NUM = 3  # eps ~= e/w spelled as the integer bound (est-true)*w <= 3*N
# affine params over the portable 32-bit hash (a < 2^20: exact in int64)
CMS_PARAMS: tuple[tuple[int, int], ...] = (
    (131071, 524287), (786433, 196613), (917503, 262139), (655357, 131063),
)
CMS_TOPK = 20
_CMS_M = 1 << 32


def cms_heavy_hitters(documents: DataFrame, topk: int = CMS_TOPK) -> DataFrame:
    """Heavy hitters with their CMS estimates and the one-sided guarantee
    checked: (term, true_count, cms_est, overcount, within_eps) for the
    top-k terms by exact count (count desc, term asc).

    - overcount = cms_est - true_count is >= 0 ALWAYS (a CMS never
      undercounts) — a negative value means the sketch is broken;
    - within_eps = overcount * w <= 3 * N (the eps*N bound with eps ~= e/w
      as an exact integer compare).

    Scale design — the sketch exists for the pass this op takes: counters
    build from the DISTINCT-term count dim (explode d rows per distinct
    term with its count as the weight, then one (row, bucket) groupBy of
    d*w cells), never from the raw token stream; at 10^12 docs the counter
    table is d*w integers and merges across partitions by addition, which
    is the entire point of the sketch."""
    toks = documents.select(
        F.explode(words(F.col("text"))).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count("*").cast("long").alias("cnt"))
    hashed = counts.withColumn("h", portable_hash32(F.col("term")))
    buckets = hashed.select(
        "term", "cnt",
        F.posexplode(
            F.array(*[
                ((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_CMS_M)
                 % F.lit(CMS_W)).cast("long")
                for a, b in CMS_PARAMS
            ])
        ).alias("row", "bucket"),
    )
    counters = buckets.groupBy("row", "bucket").agg(
        F.sum("cnt").cast("long").alias("cell")
    )
    est = (
        buckets.join(counters, ["row", "bucket"])
        .groupBy("term", "cnt")
        .agg(F.min("cell").cast("long").alias("cms_est"))
    )
    total = counts.agg(F.sum("cnt").alias("n_total"))
    top = (
        est.orderBy(F.col("cnt").desc(), F.col("term"))
        .limit(topk)
        .crossJoin(F.broadcast(total))
    )
    return (
        top.select(
            "term",
            F.col("cnt").alias("true_count"),
            "cms_est",
            (F.col("cms_est") - F.col("cnt")).cast("long").alias("overcount"),
            ((F.col("cms_est") - F.col("cnt")) * CMS_W
             <= CMS_EPS_NUM * F.col("n_total")).alias("within_eps"),
        )
        .orderBy(F.col("true_count").desc(), F.col("term"))
    )


BM25_MRR_MOD = 31  # every 31st doc seeds one labeled query


def bm25_source_mrr(documents: DataFrame, mod: int = BM25_MRR_MOD) -> DataFrame:
    """Retrieval-quality audit with LABELED relevance — bm25_topk shows the
    ranking runs; this shows it FINDS things: every doc_id % mod == 0
    document seeds a query from two of its own words (3rd and 5th,
    lowercased, de-duplicated — distinct terms keep the tf probe from
    double-counting), the shared _bm25_scores chain ranks the corpus, and
    the audit reports where the SOURCE document landed:
    (query_id, target_rank, rr_bp, hit_at_1, hit_at_5) with rr_bp =
    10000 div rank (MRR in exact integer bp; mean it downstream).

    The source doc always scores (it contains its own query terms), so
    target_rank is total — a missing row would mean the index lost a
    posting.  Scale: rides _bm25_scores' index-probe plan; the rank window
    partitions by query."""
    from pyspark.sql import Window

    base = documents.where(F.col("doc_id") % mod == 0).select(
        F.col("doc_id").alias("query_id"), words(F.col("text")).alias("toks")
    )
    two = F.array_distinct(
        F.filter(
            F.array(F.lower(F.col("toks")[2]), F.lower(F.col("toks")[4])),
            lambda x: x.isNotNull() & (x != ""),
        )
    )
    qterms = base.select(
        "query_id", F.explode(two).alias("term")
    )
    scored = _bm25_scores(documents, qterms)
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w).cast("long"))
    return (
        ranked.where(F.col("doc_id") == F.col("query_id"))
        .select(
            "query_id",
            F.col("rank").alias("target_rank"),
            F.expr("10000 div rank").cast("long").alias("rr_bp"),
            (F.col("rank") == 1).alias("hit_at_1"),
            (F.col("rank") <= 5).alias("hit_at_5"),
        )
        .orderBy("query_id")
    )


# --- character-entropy quality signal -----------------------------------------

ENTROPY_LOW_MILLI = 2500  # flag docs under 2.5 bits/char (repeated-char junk,
                          # base64 blobs sit ~6, English prose ~4.0-4.5)


def char_entropy(documents: DataFrame) -> DataFrame:
    """Per-doc Shannon entropy of the character distribution in bits/char —
    the classic junk detector orthogonal to word-level rules: repeated-char
    filler and template spam sit far below prose, random base64 far above.
    H = log2(n) - (1/n) * sum(c_i * log2(c_i)) over per-char counts c_i —
    the algebraic form that needs ONE groupBy over (doc, char) and no
    per-row probability column.  (doc_id, n_chars_counted, distinct_chars,
    entropy_milli, is_low_entropy) with entropy in exact-comparable
    MILLI-bits (floor), flag under ENTROPY_LOW_MILLI.

    Scale: the char explode is in-scan fan-out (output bounded by corpus
    bytes); one map-side-combined groupBy(doc, char) then a doc rollup.
    Both engines floor the same double expression at 3 decimals — the same
    rounding doctrine as lm_surprisal."""
    chars = documents.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).where(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(
        F.count("*").cast("long").alias("c")
    )
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.count("*").cast("long").alias("distinct_chars"),
            F.sum(F.col("c") * F.log2("c")).alias("clogc"),
        )
        .select(
            "doc_id",
            F.col("n").alias("n_chars_counted"),
            "distinct_chars",
            F.floor(
                1000 * (F.log2("n") - F.col("clogc") / F.col("n"))
            ).cast("long").alias("entropy_milli"),
            (
                F.floor(1000 * (F.log2("n") - F.col("clogc") / F.col("n")))
                < ENTROPY_LOW_MILLI
            ).alias("is_low_entropy"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece-style, Kudo 2018) — the second
# tokenizer family next to BPE: instead of greedy merges, a piece VOCABULARY
# with costs, and segmentation = the min-cost (Viterbi) path.  Fit follows
# the bpe_fit_local doctrine: ONE distributed word count, the capped head
# collected, all EM rounds driver-side on that head (pure Python, so the
# oracle generator freezes the identical vocabulary without Spark), costs
# broadcast; apply segments DISTINCT words in one Arrow stage.
#
# Cross-engine exactness: costs are integer MILLI-NATS (floor(-1000*ln p)),
# and Viterbi minimizes combined integer units = cost_milli*1000 + 1 per
# piece — the +1 folds the fewest-pieces tie-break into the objective, so
# the reported (cost, n_pieces) pair is unique even when piece paths tie.
# ---------------------------------------------------------------------------

UNIGRAM_VOCAB_SIZE = 48   # pieces kept after pruning (demo; prod 32k-256k)
UNIGRAM_MAX_PIECE = 4     # max piece length (chars)
UNIGRAM_EM_ITERS = 3
UNIGRAM_WORD_CAP = 2000   # fit head size (freq desc, word asc)
UNIGRAM_UNK_MILLI = 20_000  # per-char cost for characters outside the vocab


def _word_counts_py(texts) -> dict[str, int]:
    """Python twin of the distributed lowercased word count (words() split
    + lower + drop empty), for the oracle generator."""
    import re

    counts: dict[str, int] = {}
    for t in texts:
        for w in re.split(r"\s+", (t or "").strip()):
            if w:
                w = w.lower()
                counts[w] = counts.get(w, 0) + 1
    return counts


def _unigram_em(
    word_freqs: list[tuple[str, int]],
    vocab_size: int = UNIGRAM_VOCAB_SIZE,
    max_piece: int = UNIGRAM_MAX_PIECE,
    em_iters: int = UNIGRAM_EM_ITERS,
) -> list[tuple[str, int]]:
    """Driver-local unigram-LM fit (pure Python — shared verbatim by the
    Spark face and tools/gen_expected.py's frozen twin).

    Seed: every single character seen in the head (never pruned — coverage
    must stay total) + the most frequent substrings of length 2..max_piece
    (occurrence-weighted, top 4*vocab_size by (freq desc, piece asc)).
    Each EM round Viterbi-segments every head word under the current
    integer costs (the SAME combined-units objective the apply face uses),
    re-estimates costs from add-1-smoothed usage, then the final prune
    keeps chars + the top used pieces.  Returns [(piece, cost_milli)].
    """
    import math

    freqs = sorted(word_freqs, key=lambda wf: (-wf[1], wf[0]))
    chars: set[str] = set()
    sub_counts: dict[str, int] = {}
    for w, f in freqs:
        chars.update(w)
        for ln in range(2, max_piece + 1):
            for i in range(len(w) - ln + 1):
                p = w[i:i + ln]
                sub_counts[p] = sub_counts.get(p, 0) + f
    seeds = sorted(sub_counts.items(), key=lambda pc: (-pc[1], pc[0]))
    vocab = {c: 1 for c in sorted(chars)}
    for p, c in seeds[: 4 * vocab_size]:
        vocab[p] = c
    total = sum(vocab.values())
    costs = {p: max(0, math.floor(-1000 * math.log(c / total)))
             for p, c in vocab.items()}

    def viterbi(w: str) -> tuple[int, int, list[str]]:
        """(cost_milli, n_pieces, pieces) minimizing cost*1000 + pieces."""
        INF = 1 << 60
        n = len(w)
        dp = [0] + [INF] * n
        back = [0] * (n + 1)
        for i in range(1, n + 1):
            best = INF
            bj = i - 1
            for ln in range(1, min(max_piece, i) + 1):
                p = w[i - ln:i]
                if ln == 1:
                    cm = costs.get(p, UNIGRAM_UNK_MILLI)
                elif p in costs:
                    cm = costs[p]
                else:
                    continue
                cand = dp[i - ln] + cm * 1000 + 1
                if cand < best:
                    best, bj = cand, i - ln
            dp[i] = best
            back[i] = bj
        pieces = []
        i = n
        while i > 0:
            pieces.append(w[back[i]:i])
            i = back[i]
        pieces.reverse()
        return dp[n] // 1000, dp[n] % 1000, pieces

    for _ in range(em_iters):
        used: dict[str, int] = {}
        for w, f in freqs:
            for p in viterbi(w)[2]:
                used[p] = used.get(p, 0) + f
        vocab = {p: used.get(p, 0) + 1 for p in vocab}  # add-1 smoothing
        total = sum(vocab.values())
        costs = {p: max(0, math.floor(-1000 * math.log(c / total)))
                 for p, c in vocab.items()}

    multi = sorted(
        ((p, c) for p, c in vocab.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )
    keep = {p for p in vocab if len(p) == 1}
    keep |= {p for p, _ in multi[: max(0, vocab_size - len(keep))]}
    kept = {p: vocab[p] for p in keep}
    total = sum(kept.values())
    return sorted(
        (p, max(0, math.floor(-1000 * math.log(c / total))))
        for p, c in kept.items()
    )


def unigram_fit_local(
    documents: DataFrame,
    vocab_size: int = UNIGRAM_VOCAB_SIZE,
    max_piece: int = UNIGRAM_MAX_PIECE,
    em_iters: int = UNIGRAM_EM_ITERS,
    word_cap: int = UNIGRAM_WORD_CAP,
) -> DataFrame:
    """Spark face of the unigram fit: ONE distributed lowercased word count
    -> collect the (freq desc, word asc) top-word_cap head -> _unigram_em
    driver-side -> (piece, cost_milli) frame.  The corpus is touched once
    regardless of EM rounds or vocab size — the bpe_fit_local scale story.
    """
    toks = documents.select(
        F.explode(F.transform(words(F.col("text")), F.lower)).alias("w")
    ).where(F.col("w") != "")
    head = (
        toks.groupBy("w").agg(F.count("*").cast("long").alias("f"))
        .orderBy(F.col("f").desc(), F.col("w"))
        .limit(word_cap)
        .collect()
    )
    fit = _unigram_em(
        [(r["w"], r["f"]) for r in head], vocab_size, max_piece, em_iters
    )
    return documents.sparkSession.createDataFrame(
        fit, "piece string, cost_milli long"
    ).orderBy("piece")


def unigram_apply(
    documents: DataFrame,
    vocab: DataFrame | None = None,
    max_piece: int = UNIGRAM_MAX_PIECE,
) -> DataFrame:
    """Viterbi segmentation of the corpus under a unigram vocabulary:
    (doc_id, n_words, n_pieces, cost_milli) — per-doc totals of the
    min-(cost*1000 + pieces) segmentation of every word occurrence.

    Scale: the vocab is a broadcast dict; DISTINCT words segment once in
    one Arrow stage (prose re-uses words heavily) and join back to the
    token stream by word — the bpe_apply pattern.  Unknown single chars
    (absent from the fit head) cost UNIGRAM_UNK_MILLI each, so coverage is
    total and a vocab hole can never drop a document."""
    if vocab is None:
        vocab = unigram_fit_local(documents)
    cost_map = {r["piece"]: int(r["cost_milli"]) for r in vocab.collect()}
    bc = documents.sparkSession.sparkContext.broadcast(cost_map)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        costs = bc.value

        def viterbi_units(w: str) -> int:
            INF = 1 << 60
            n = len(w)
            dp = [0] + [INF] * n
            for i in range(1, n + 1):
                best = INF
                for ln in range(1, min(max_piece, i) + 1):
                    p = w[i - ln:i]
                    if ln == 1:
                        cm = costs.get(p, UNIGRAM_UNK_MILLI)
                    elif p in costs:
                        cm = costs[p]
                    else:
                        continue
                    cand = dp[i - ln] + cm * 1000 + 1
                    if cand < best:
                        best = cand
                dp[i] = best
            return dp[n]

        memo: dict[str, int] = {}
        for pdf in batches:
            units = []
            for w in pdf["w"]:
                u = memo.get(w)
                if u is None:
                    u = viterbi_units(w)
                    memo[w] = u
                units.append(u)
            yield pd.DataFrame({"w": pdf["w"], "units": units})

    toks = documents.select(
        "doc_id",
        F.explode(F.transform(words(F.col("text")), F.lower)).alias("w"),
    ).where(F.col("w") != "")
    seg = (
        toks.select("w").distinct()
        .mapInPandas(fn, "w string, units long")
    )
    return (
        toks.join(seg, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum(F.expr("units % 1000")).cast("long").alias("n_pieces"),
            F.sum(F.expr("units div 1000")).cast("long").alias("cost_milli"),
        )
        .orderBy("doc_id")
    )


def unigram_fertility(
    documents: DataFrame, vocab: DataFrame | None = None
) -> DataFrame:
    """Per-language fertility of the unigram tokenizer — the multilingual-
    fairness stat a model card tables for ITS tokenizer (tokenizer_fertility
    reports the shared-BPE-regex one): pieces per word in exact integer bp.
    (lang, n_words, n_pieces, pieces_per_word_bp).

    Scale: rides unigram_apply's distinct-word Arrow stage; the rollup is
    one lang-dim groupBy."""
    per_doc = unigram_apply(documents, vocab)
    return (
        per_doc.join(documents.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_pieces").cast("long").alias("n_pieces"),
        )
        .select(
            "lang", "n_words", "n_pieces",
            F.expr("(10000 * n_pieces) div n_words").cast("long")
            .alias("pieces_per_word_bp"),
        )
        .orderBy("lang")
    )


def len_quality_assoc(documents: DataFrame) -> DataFrame:
    """Length-quality dependence audit — the question every scored corpus
    gets asked before its filter ships: is the quality score just a length
    proxy?  Reports the exact integer moments of (x = n_tokens,
    y = quality_bp) and the sign of the covariance, all overflow-safe
    BIGINTs (n <= 10^12, x <= 10^6, y <= 10^4 keep n*sum(xy) < 2^63 at the
    per-PARTITION scale production would shard this to; at sf the totals
    are tiny).  One row: (n_docs, sum_x, sum_y, sum_xy, sum_x2, sum_y2,
    cov_num, cov_positive) with cov_num = n*sum_xy - sum_x*sum_y (the
    Pearson numerator — correlation needs only a sqrt on top, which the
    audit leaves float-free on purpose).

    Scale: one map-side-combined aggregate over the scan — no shuffle
    beyond the final 1-row combine."""
    q = quality_score(documents).select(
        F.col("n_tokens").alias("x"),
        F.round(F.col("quality") * 10000).cast("long").alias("y"),
    )
    agg = q.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("x").cast("long").alias("sum_x"),
        F.sum("y").cast("long").alias("sum_y"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sum_xy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sum_x2"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("sum_y2"),
    )
    return agg.select(
        "*",
        (F.col("n_docs") * F.col("sum_xy")
         - F.col("sum_x") * F.col("sum_y")).cast("long").alias("cov_num"),
        (F.col("n_docs") * F.col("sum_xy")
         > F.col("sum_x") * F.col("sum_y")).alias("cov_positive"),
    )


GATE_RULE_NAMES = (
    "too_few_tokens", "too_many_tokens", "word_len", "no_stopwords",
    "hash_symbols", "ellipsis_lines", "bullet_lines",
)


def gate_impact(documents: DataFrame) -> DataFrame:
    """Per-rule impact of the hard gate — the knob-tuning table a filter
    review reads before changing any threshold: for every rule, how many
    docs it fires on, how many it is the SOLE blocker for (the docs that
    rule alone costs — relaxing it readmits exactly these), and the token
    mass involved in exact corpus bp.  Zero-filled over all rules so a
    never-firing rule is visible as such.
    (rule, n_docs_failing, n_sole_blocker, tokens_failing, tokens_bp).

    Scale: quality_gate's one scan + an in-scan reasons explode (bounded
    by rules-per-doc), a rule-sized groupBy, and a 1-row broadcast total."""
    g = quality_gate(documents)
    toks = documents.select(
        "doc_id", F.size(words(F.col("text"))).cast("long").alias("n_tokens")
    )
    failed = (
        g.where(~F.col("passed"))
        .select("doc_id", F.split(F.col("reasons"), ";").alias("rs"))
        .select(
            "doc_id",
            (F.size("rs") == 1).cast("long").alias("sole"),
            F.explode("rs").alias("rule"),
        )
        .join(toks, "doc_id")
    )
    per = failed.groupBy("rule").agg(
        F.count("*").cast("long").alias("n_docs_failing"),
        F.sum("sole").cast("long").alias("n_sole_blocker"),
        F.sum("n_tokens").cast("long").alias("tokens_failing"),
    )
    dim = documents.sparkSession.createDataFrame(
        [(r,) for r in GATE_RULE_NAMES], "rule string"
    )
    total = toks.agg(F.sum("n_tokens").alias("tot"))
    return (
        dim.join(per, "rule", "left")
        .crossJoin(F.broadcast(total))
        .select(
            "rule",
            F.coalesce("n_docs_failing", F.lit(0)).cast("long")
            .alias("n_docs_failing"),
            F.coalesce("n_sole_blocker", F.lit(0)).cast("long")
            .alias("n_sole_blocker"),
            F.coalesce("tokens_failing", F.lit(0)).cast("long")
            .alias("tokens_failing"),
            F.expr("(10000 * coalesce(tokens_failing, 0)) div tot")
            .cast("long").alias("tokens_bp"),
        )
        .orderBy("rule")
    )


KN_DISC_NUM, KN_DISC_DEN = 3, 4  # Kneser-Ney absolute discount D = 3/4


def lm_surprisal_kn(
    documents: DataFrame, ref_mod: int = SURPRISAL_REF_MOD
) -> DataFrame:
    """Interpolated Kneser-Ney bigram surprisal — the smoothing CCNet's
    production KenLM actually uses, next to lm_surprisal2's stupid
    backoff.  KN's insight is the CONTINUATION count: the unigram base is
    NOT "how often does w occur" but "how many distinct contexts does w
    follow" (N_cont(w) / T over bigram TYPES) — the 'Francisco' fix: a
    token frequent only after one context ('san francisco') prices CHEAP
    after that context and EXPENSIVE everywhere else, where raw-count
    backoff underprices it everywhere.

    Exact-integer scoring (the floor-log2 bits doctrine; the discount
    D = 3/4 rides in quarters so every quantity stays BIGINT):
    - seen (p, w):   P = [max(4*c2-3, 0)*T + 3*N1+(p)*N_cont(w)]
                         / (4*c1(p)*T)
                     bits = floor(log2(den div num))
    - unseen pair, p seen: the same formula with c2 = 0 (pure
      interpolation weight); if N_cont(w) = 0 the numerator vanishes and
      the pair prices at BACKOFF_BITS + floor(log2(T + 1)) (cont-OOV).
    - p unseen: BACKOFF_BITS + continuation-unigram bits
      floor(log2((T + 1) div (N_cont(w) + 1))).
    - first token: continuation-unigram bits, no penalty.

    Returns (doc_id, n_toks, n_kn_hits, bits_sum, mean_cb, bucket) with
    the shared _cb_tiers tercile rule.

    Plan (lm_surprisal2 doctrine): N1+/N_cont/T are three groupBys over
    the vocab-bounded bigram-TYPE dim, never the stream; the corpus pair
    stream left-joins the seen-pair bits dim plus the two marginal dims
    (keyed shuffles on p / w); one per-doc fold.  Nothing corpus-ordered.
    Overflow headroom: the largest product is 4*c1(p)*T; a wiki-scale
    reference (~1e9 tokens, ~1e9 bigram types) pushes it toward BIGINT's
    edge — cap the reference vocabulary (frequency head, the
    bpe_fit_local doctrine) before fitting at that scale; the cap is the
    knob."""
    toks = words(F.lower(F.col("text")))

    ref = documents.where(F.col("doc_id") % ref_mod == 0)
    ucnt = (
        ref.select(F.explode(toks).alias("term"))
        .groupBy("term").agg(F.count("*").cast("long").alias("c"))
    )
    pair = F.when(F.size(toks) < 2, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("p"),
                F.element_at(toks, i + 2).alias("w"),
            ),
        )
    )
    bcnt = (
        ref.select(F.explode(pair).alias("b"))
        .select("b.p", "b.w")
        .groupBy("p", "w").agg(F.count("*").cast("long").alias("c2"))
    )
    n1p = bcnt.groupBy("p").agg(F.count("*").cast("long").alias("n1p"))
    ncont = bcnt.groupBy("w").agg(F.count("*").cast("long").alias("ncont"))
    tdim = bcnt.agg(F.count("*").cast("long").alias("tt"))

    kn_bits = (
        bcnt
        .join(ucnt.select(F.col("term").alias("p"),
                          F.col("c").alias("c1p")), "p")
        .join(n1p, "p").join(ncont, "w").crossJoin(tdim)
        .select(
            "p", "w",
            (F.length(F.bin(F.expr(
                f"greatest((4 * c1p * tt) div "
                f"(greatest(4 * c2 - {KN_DISC_NUM}, 0) * tt"
                f" + {KN_DISC_NUM} * n1p * ncont), 1)"
            ))) - 1).cast("long").alias("kbits"),
        )
    )

    pdim = (
        ucnt.select(F.col("term").alias("p"), F.col("c").alias("c1p"))
        .join(n1p, "p", "left")
        .select("p", "c1p", F.coalesce("n1p", F.lit(0)).alias("n1p"))
    )
    big_stream = documents.select(
        "doc_id", F.explode(pair).alias("b")
    ).select("doc_id", "b.p", "b.w")
    cont_oov = F.expr("length(bin(tt + 1)) - 1").cast("long")
    miss_num = F.expr(f"{KN_DISC_NUM} * n1p * coalesce(ncont, 0L)")
    pair_bits = (
        F.when(F.col("kbits").isNotNull(), F.col("kbits"))
        .when(
            F.col("c1p").isNotNull() & (miss_num > 0),
            (F.length(F.bin(F.expr(
                f"greatest((4 * c1p * tt) div "
                f"({KN_DISC_NUM} * n1p * ncont), 1)"
            ))) - 1).cast("long"),
        )
        .when(F.col("c1p").isNotNull(), F.lit(BACKOFF_BITS) + cont_oov)
        .otherwise(
            F.lit(BACKOFF_BITS)
            + (F.length(F.bin(F.expr(
                "greatest((tt + 1) div (coalesce(ncont, 0L) + 1), 1)"
            ))) - 1).cast("long")
        )
    )
    scored_pairs = (
        big_stream
        .join(kn_bits, ["p", "w"], "left")
        .join(pdim, "p", "left")
        .join(ncont, "w", "left")
        .crossJoin(tdim)
        .select(
            "doc_id",
            F.col("kbits").isNotNull().cast("int").alias("hit"),
            pair_bits.alias("b"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("hit").cast("long").alias("hits"),
            F.sum("b").cast("long").alias("psum"),
        )
    )
    firsts = (
        documents.select(
            "doc_id", F.element_at(toks, 1).alias("w"),
            F.size(toks).cast("long").alias("n_toks"),
        )
        .join(ncont, "w", "left")
        .crossJoin(tdim)
        .select(
            "doc_id", "n_toks",
            (F.length(F.bin(F.expr(
                "greatest((tt + 1) div (coalesce(ncont, 0L) + 1), 1)"
            ))) - 1).cast("long").alias("fb"),
        )
    )
    per_doc = (
        firsts.join(scored_pairs, "doc_id", "left")
        .select(
            "doc_id", "n_toks",
            F.coalesce("hits", F.lit(0)).cast("long").alias("n_kn_hits"),
            (F.col("fb") + F.coalesce("psum", F.lit(0)))
            .cast("long").alias("bits_sum"),
        )
        .withColumn(
            "mean_cb", F.expr("(100 * bits_sum) div n_toks").cast("long")
        )
    )
    return (
        per_doc.join(F.broadcast(_cb_tiers(per_doc)), "mean_cb")
        .select(
            "doc_id", "n_toks", "n_kn_hits", "bits_sum", "mean_cb",
            F.when(F.col("tier") == 0, "head")
            .when(F.col("tier") == 1, "middle")
            .otherwise(F.lit("tail")).alias("bucket"),
        )
        .orderBy("doc_id")
    )


# --- readability (Flesch) ---------------------------------------------------

READABILITY_BANDS = (  # reading-ease milli-unit floors, Flesch's table
    (90_000, "very_easy"), (60_000, "standard"), (30_000, "difficult"),
)


def readability(documents: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_sentences, n_syllables, fk_grade_milli,
    reading_ease_milli, band) — Flesch reading ease + Flesch-Kincaid
    grade, the oldest document-difficulty signals still in every content
    QA stack (a crawl page scoring far outside the human band is
    boilerplate, word salad, or machine text; model-card datasheets
    report the corpus ease distribution).

    Exact-integer formulation in MILLI-units (the coefficients are
    decimals, so scale once and floor-divide — both engines share the
    formula verbatim):
      ease  = 206835 - (1015*W) div S - (84600*Y) div W
      grade = (390*W) div S + (11800*Y) div W - 15590
    with W = whitespace words, S = sentence-ender runs [.!?]+ clamped to
    >= 1 (headline-only pages), Y = vowel-group runs [aeiouy]+ over the
    lowercased text — the standard syllable heuristic; group counting
    needs no word split since spaces break groups anyway.  W clamps to
    >= 1 in the divisors only (empty docs surface W=0 with the formula
    floors, not a crash).  Bands are Flesch's table floors on ease.

    Scale: three JVM regexp counts + integer arithmetic in ONE scan
    projection — no Python, no shuffle, full codegen."""
    txt = F.lower(F.col("text"))
    n_words = F.size(words(F.col("text"))).cast("long")
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(txt, F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1),
    ).cast("long")
    n_syll = F.size(
        F.regexp_extract_all(txt, F.lit(r"[aeiouy]+"), F.lit(0))
    ).cast("long")
    out = documents.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    ).withColumn(
        "fk_grade_milli",
        F.expr(
            "(390 * n_words) div n_sentences"
            " + (11800 * n_syllables) div greatest(n_words, 1L) - 15590"
        ).cast("long"),
    ).withColumn(
        "reading_ease_milli",
        F.expr(
            "206835 - (1015 * n_words) div n_sentences"
            " - (84600 * n_syllables) div greatest(n_words, 1L)"
        ).cast("long"),
    )
    band = F.when(
        F.col("reading_ease_milli") >= READABILITY_BANDS[0][0],
        READABILITY_BANDS[0][1],
    )
    for floor, name in READABILITY_BANDS[1:]:
        band = band.when(F.col("reading_ease_milli") >= floor, name)
    return out.withColumn(
        "band", band.otherwise(F.lit("very_difficult"))
    ).orderBy("doc_id")


MATTR_WIN = 25  # moving-average TTR window (Covington & McFall 2010)


def lexical_diversity(
    documents: DataFrame, win: int = MATTR_WIN
) -> DataFrame:
    """(doc_id, n_tokens, n_types, ttr_bp, mattr_bp) — type-token ratio
    and its length-corrected moving-average form (MATTR, Covington &
    McFall 2010): plain TTR collapses as documents grow (every repeated
    token drags it down), so corpora comparing docs of different lengths
    use the mean TTR over a SLIDING window of fixed size — the standard
    lexical-diversity signal next to vocab growth (t_vocab_growth) and
    repetition (t_repetition), and a cheap template/boilerplate detector
    (machine-generated spam has low diversity at every window).

    Exact integers: ttr_bp = (10000 * types) div tokens; mattr_bp =
    (10000 * sum over windows of distinct(window)) div (win * n_windows)
    for docs with >= win tokens, else mattr_bp = ttr_bp (the defined
    short-doc fallback — a truncated window would bias high).

    Scale: entirely JVM — transform(sequence) slides the window,
    array_distinct counts types per window, aggregate folds the sum; one
    scan projection, no Python, no shuffle, no explode (the window
    fan-out stays inside the array expression)."""
    toks = words(F.lower(F.col("text")))
    n = F.size(toks)
    # guard short docs BEFORE building the sequence: sequence(1, n-win+1)
    # with n < win counts DOWN through zero and slice(., 0, .) throws
    wins = F.when(
        n >= win,
        F.transform(
            F.sequence(F.lit(1), n - win + 1),
            lambda i: F.size(F.array_distinct(F.slice(toks, i, win))),
        ),
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    win_sum = F.aggregate(
        wins, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return (
        documents.select(
            "doc_id",
            n.cast("long").alias("n_tokens"),
            F.size(F.array_distinct(toks)).cast("long").alias("n_types"),
            wins.alias("_wins"),
            win_sum.alias("_wsum"),
        )
        .select(
            "doc_id", "n_tokens", "n_types",
            F.expr("(10000 * n_types) div greatest(n_tokens, 1L)")
            .cast("long").alias("ttr_bp"),
            F.when(
                F.col("n_tokens") >= win,
                F.expr(f"(10000 * _wsum) div ({win} * size(_wins))"),
            ).otherwise(None).alias("_m"),
        )
        .select(
            "doc_id", "n_tokens", "n_types", "ttr_bp",
            F.coalesce(
                F.expr("CAST(_m AS BIGINT)"),
                F.col("ttr_bp"),
            ).alias("mattr_bp"),
        )
        .orderBy("doc_id")
    )


PHRASE_QUERY_MOD = 41   # every %41 doc seeds a phrase query from its tokens


def phrase_queries(documents: DataFrame) -> DataFrame:
    """(query_id, w1, w2): every %PHRASE_QUERY_MOD doc seeds an adjacent
    bigram query from its own 2nd/3rd tokens (lowercased) — guaranteed
    at least one corpus hit (the seed doc), the same self-seeding
    doctrine as the BM25 MRR audit."""
    toks = words(F.col("text"))
    return (
        documents
        .where((F.col("doc_id") % PHRASE_QUERY_MOD == 0)
               & (F.size(toks) >= 3))
        .select(
            F.col("doc_id").alias("query_id"),
            F.lower(F.element_at(toks, 2)).alias("w1"),
            F.lower(F.element_at(toks, 3)).alias("w2"),
        )
    )


def phrase_search(documents: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, w1, w2, doc_id, n_matches) — exact phrase (adjacent
    bigram) search via a POSITIONAL inverted index, the IR step a plain
    inverted index cannot express: a doc containing both words scattered
    is NOT a phrase hit; adjacency lives in the position column
    (Manning/Raghavan/Schütze IIR §2.4, positional postings).

    Plan shape for 10^12 docs: posexplode is a narrow in-scan fan-out;
    each posting stream is FILTERED by a broadcast semi-join against the
    tiny query-term dim BEFORE any pairing, so the adjacency join runs
    postings(w1) x postings(w2) — term-selective slivers of the corpus —
    never posting x posting.  The pairing itself is a pure equi-join on
    (doc_id, pos+1 = pos) (Catalyst gets both keys; no theta residual),
    then one algebraic count per (query, doc)."""
    from pyspark.sql.functions import broadcast

    post = (
        documents.select(
            "doc_id",
            F.posexplode(words(F.col("text"))).alias("pos", "term"),
        )
        .select("doc_id", (F.col("pos") + 1).alias("pos"),
                F.lower("term").alias("term"))
    )
    # the query dim is consumed three times (two term prefilters + the
    # final label join): materialize it ONCE with an eager localCheckpoint
    # — its blocks are ContextCleaner-released, unlike a persist() this
    # operator would have no post-action hook to unpersist (the r4-advice
    # cache leak across long sweeps)
    q = queries.localCheckpoint(eager=True)
    p1 = (
        post.join(broadcast(q.select(F.col("w1").alias("term")).distinct()),
                  "term")
        .select(F.col("doc_id"), F.col("pos"), F.col("term").alias("t1"),
                (F.col("pos") + 1).alias("next_pos"))
    )
    p2 = (
        post.join(broadcast(q.select(F.col("w2").alias("term")).distinct()),
                  "term")
        .select(F.col("doc_id").alias("doc_id2"),
                F.col("pos").alias("pos2"), F.col("term").alias("t2"))
    )
    pairs = p1.join(
        p2,
        (p1.doc_id == p2.doc_id2) & (p1.next_pos == p2.pos2),
    )
    out = (
        broadcast(q).join(
            pairs, (q.w1 == pairs.t1) & (q.w2 == pairs.t2)
        )
        .groupBy("query_id", "w1", "w2", "doc_id")
        .agg(F.count("*").cast("long").alias("n_matches"))
        .orderBy("query_id", "doc_id")
    )
    return out


# ---------------------------------------------------------------------------
# Code detection: route source code away from (or into) the prose mix.
# ---------------------------------------------------------------------------

CODE_MOD = 9           # doc_id % 9 == 4 docs get an appended snippet
CODE_MIN_BRACES = 4
CODE_MIN_KEYWORDS = 3
CODE_KW_RE = r"\b(function|var|return|if)\b"
CODE_EOL_RE = r"[;{]$"


def with_code_blocks(documents: DataFrame) -> DataFrame:
    """Synthesis: %CODE_MOD==4 docs carry an appended deterministic
    JS-ish snippet (braces, semicolons, keywords — all the signals);
    everything else keeps its prose.  Re-derivable in SQL."""
    d = F.col("doc_id")
    snippet = F.concat(
        F.lit("\nfunction f"), d, F.lit("(x) {\n  var y = x + "), d,
        F.lit(";\n  if (y > 0) { return y; }\n  return 0;\n}"),
    )
    return documents.withColumn(
        "text_code",
        F.when(d % CODE_MOD == 4, F.concat("text", snippet))
        .otherwise(F.col("text")),
    )


def code_detect(
    df: DataFrame, text_col: str = "text_code"
) -> DataFrame:
    """(doc_id, n_lines, n_braces, kw_hits, code_eol_lines, is_code) —
    is-this-source-code signals for the mix router (a code file in the
    prose stream wrecks perplexity filters tuned on prose, and most
    recipes weight code separately): brace count, keyword hits
    (word-bounded, so prose 'if' counts too — which is WHY the verdict
    requires braces as well), and lines ending in ';' or '{' (the
    statement-terminator shape prose essentially never has).  Verdict:
    braces >= CODE_MIN_BRACES AND keywords >= CODE_MIN_KEYWORDS.

    All JVM regexp counts in ONE scan projection — no Python, no
    shuffle, full codegen; exact integers both engines."""
    t = F.col(text_col)
    braces = F.regexp_count(t, F.lit(r"[{}]")).cast("long")
    kws = F.regexp_count(t, F.lit(CODE_KW_RE)).cast("long")
    lines = F.split(t, "\n")
    eol = F.size(
        F.filter(lines, lambda s: s.rlike(CODE_EOL_RE))
    ).cast("long")
    return df.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        braces.alias("n_braces"),
        kws.alias("kw_hits"),
        eol.alias("code_eol_lines"),
        ((braces >= CODE_MIN_BRACES)
         & (kws >= CODE_MIN_KEYWORDS)).alias("is_code"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BM25F: weighted multi-field ranking (Robertson/Zaragoza/Taylor, CIKM 2004
# "Simple BM25 extension to multiple weighted fields").  The web-search
# canonical: anchor text is the strongest ranking field the web gives you,
# and the CORRECT combination is weighted term frequencies merged BEFORE
# the BM25 saturation — scoring fields separately and adding the scores
# lets one spammy field saturate independently; merging first means a term
# must be endorsed across fields to keep climbing.
# ---------------------------------------------------------------------------

BM25F_W_BODY = 1
BM25F_W_ANCHOR = 3   # the classic strong anchor upweight


def with_anchor_field(documents: DataFrame) -> DataFrame:
    """(doc_id, anchor): deterministic incoming-anchor text — the doc's
    own 2nd/3rd tokens lowered (anchors echo titles), doubled for odd
    doc_ids (popular pages accrete repeated anchors).  Re-derivable in
    SQL."""
    d = F.col("doc_id")
    toks = words(F.col("text"))
    base = F.when(
        F.size(toks) >= 3,
        F.lower(F.concat_ws(" ", F.element_at(toks, 2),
                            F.element_at(toks, 3))),
    ).otherwise(F.lit(""))
    anchor = (
        F.when(base == "", F.lit(""))
        .when(d % 2 == 1, F.concat(base, F.lit(" "), base))
        .otherwise(base)
    )
    return documents.select("doc_id", anchor.alias("anchor"))


def bm25f_topk(
    documents: DataFrame, anchors: DataFrame,
    n_queries: int = BM25_QUERIES, k: int = BM25_TOP_K,
) -> DataFrame:
    """(query_id, q_terms, doc_id, bm25f, rank) — BM25F over body +
    anchor: tf_c = W_BODY*tf_body + W_ANCHOR*tf_anchor and dl_c likewise
    merge BEFORE saturation; df counts documents containing the term in
    EITHER field; queries pair the combined df-top terms (bm25_topk's
    rule).  Same exact-integer saturation constants as _bm25_scores, so
    the two rankers differ ONLY in the field merge — the anchor-flip
    pytest isolates exactly that.

    Scale: two narrow field explodes -> keyed (doc, term) groupBys ->
    one full-outer field merge -> the same broadcast query-dim probe
    plan as _bm25_scores; anchors are a per-doc dim (the anchor-text cap
    in linkgraph bounds its width at the source)."""
    btoks = documents.select(
        "doc_id",
        F.explode(F.transform(words(F.col("text")), F.lower)).alias("term"),
    ).where(F.col("term") != "")
    atoks = anchors.select(
        "doc_id",
        F.explode(F.transform(words(F.col("anchor")), F.lower))
        .alias("term"),
    ).where(F.col("term") != "")
    btf = btoks.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tfb"))
    atf = atoks.groupBy("doc_id", "term").agg(
        F.count("*").cast("long").alias("tfa"))
    ctf = (
        btf.join(atf, ["doc_id", "term"], "full_outer")
        .select(
            "doc_id", "term",
            (F.lit(BM25F_W_BODY) * F.coalesce("tfb", F.lit(0))
             + F.lit(BM25F_W_ANCHOR) * F.coalesce("tfa", F.lit(0)))
            .cast("long").alias("tfc"),
        )
    )
    dlc = ctf.groupBy("doc_id").agg(F.sum("tfc").cast("long").alias("dlc"))
    stats = dlc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dlc").cast("long").alias("t_tokens"),
    )
    dfreq = ctf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    from pyspark.sql import Window

    # top-2Q selection via distributed TakeOrdered (orderBy().limit()),
    # then the labeling row_number runs over 2Q bounded rows — never a
    # single-partition window over the vocabulary-scale df table
    qterms = (
        dfreq.orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(2 * n_queries)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(F.col("df").desc(), F.col("term").asc())),
        )
        .select(((F.col("rn") + 1) / 2).cast("long").alias("query_id"),
                "rn", "term", "df")
    )
    qdim = qterms.groupBy("query_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "term"))),
                lambda s: s["term"],
            ),
        ).alias("q_terms")
    )
    cand = (
        ctf.join(F.broadcast(qterms.select("query_id", "term", "df")),
                 "term")
        .join(dlc, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    num = F.lit(_BM25_NUM_C).cast("long") * F.col("tfc") * F.col("t_tokens")
    den = (
        F.lit(1000).cast("long") * F.col("tfc") * F.col("t_tokens")
        + F.lit(_BM25_DEN_T).cast("long") * F.col("t_tokens")
        + F.lit(_BM25_DEN_DL).cast("long") * F.col("dlc") * F.col("n_docs")
    )
    idf = F.log(
        F.lit(1.0)
        + (2 * F.col("n_docs") - 2 * F.col("df") + 1) / (2 * F.col("df") + 1)
    )
    scored = cand.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(idf * num / den), 4).alias("bm25f")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25f").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .join(qdim, "query_id")
        .select("query_id", "q_terms", "doc_id", "bm25f", "rank")
        .orderBy("query_id", "rank")
    )


KWIC_WINDOW = 3     # context tokens each side
KWIC_PER_DOC = 2    # occurrences kept per doc (positional cap)


def kwic(documents: DataFrame) -> DataFrame:
    """(doc_id, pos, left_ctx, kw, right_ctx) — Keyword-In-Context
    concordance lines for the corpus's highest-df term (ties to the
    alphabetically first), the corpus-inspection tool lexicographers and
    corpus QA have used since Luhn (1960): every gate threshold argument
    ends with someone reading concordance lines, and shipping them as a
    face means the review reads the SAME lines in both engines.

    Occurrences are capped per doc by POSITION (first KWIC_PER_DOC — a
    deterministic cap, not a sample); context windows clamp at document
    edges.  Scale: the keyword dim is one broadcast row; the posexplode
    carries the token array alongside, so context slicing is in-row
    array math — no self-join back to the text, no second explode."""
    from pyspark.sql import Window

    toks_col = F.transform(words(F.col("text")), F.lower)
    base = documents.select(
        "doc_id", toks_col.alias("toks")
    ).select(
        "doc_id", "toks",
        F.posexplode("toks").alias("pos0", "term"),
    ).where(F.col("term") != "")
    dfreq = base.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    # top-1 via distributed TakeOrdered, not a vocabulary-scale window
    top = dfreq.orderBy(
        F.col("df").desc(), F.col("term").asc()
    ).limit(1).select("term")
    hits = base.join(F.broadcast(top), "term").select(
        "doc_id", "toks", (F.col("pos0") + 1).alias("pos"),
        F.col("term").alias("kw"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    capped = hits.withColumn("k", F.row_number().over(w)) \
        .where(F.col("k") <= KWIC_PER_DOC)
    start = F.greatest(F.col("pos") - KWIC_WINDOW, F.lit(1))
    left = F.concat_ws(
        " ", F.slice(F.col("toks"), start, F.col("pos") - start))
    right = F.concat_ws(
        " ", F.slice(F.col("toks"), F.col("pos") + 1, KWIC_WINDOW))
    return capped.select(
        "doc_id", F.col("pos").cast("long").alias("pos"),
        left.alias("left_ctx"), "kw", right.alias("right_ctx"),
    ).orderBy("doc_id", "pos")


# ISO-8601 calendar dates, word-bounded, with real month/day ranges (a
# version string 2024-99-99 must not parse as a date)
DATE_ISO_RE = (
    r"\b(20[0-9]{2}-(?:0[1-9]|1[0-2])-(?:0[1-9]|[12][0-9]|3[01]))\b"
)


def with_pub_dates(documents: DataFrame) -> DataFrame:
    """Synthesis: %6==1 docs carry one appended ISO date, %6==3 a date
    RANGE (two dates), %6==5 a US-format decoy (12/31/2024) the ISO
    subset must NOT match, plus a malformed 2024-99-99 on %6==1 that the
    range classes must reject.  Re-derivable in SQL."""
    d = F.col("doc_id")
    tail = (
        F.when(d % 6 == 1, F.concat(
            F.lit(" Published: 2024-0"), d % 9 + 1,
            F.lit("-1"), d % 3, F.lit(" v2024-99-99")))
        .when(d % 6 == 3, F.concat(
            F.lit(" From 2023-1"), d % 2, F.lit("-05 to 2024-02-2"),
            d % 3))
        .when(d % 6 == 5, F.lit(" updated 12/31/2024"))
        .otherwise(F.lit(""))
    )
    return documents.withColumn("text_dated", F.concat("text", tail))


def date_extract(
    df: DataFrame, text_col: str = "text_dated"
) -> DataFrame:
    """(doc_id, n_dates, min_date, max_date) — document freshness from
    in-text ISO dates, the metadata pass recency-weighted corpus mixes
    need when the crawl's Last-Modified lies (it usually does; the body
    date is the content's own claim).  ISO-8601 only, word-bounded, with
    REAL month/day ranges so 2024-99-99 never parses; min/max work
    lexicographically BECAUSE the format is ISO — the property that
    makes this a pure string aggregate, no date parsing in the hot path.
    One JVM regexp_extract_all in the scan; '' min/max for dateless
    docs (the nullable-string doctrine)."""
    dates = F.regexp_extract_all(F.col(text_col), F.lit(DATE_ISO_RE), 1)
    return df.select(
        "doc_id",
        F.size(dates).cast("long").alias("n_dates"),
        F.coalesce(F.array_min(dates), F.lit("")).alias("min_date"),
        F.coalesce(F.array_max(dates), F.lit("")).alias("max_date"),
    ).orderBy("doc_id")
