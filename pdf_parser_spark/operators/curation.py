"""Corpus-curation operators for training-data pipelines: benchmark
decontamination, PII scrubbing, deterministic stratified sampling,
token-budget shard packing, and incremental dedup against an existing
corpus index.

These extend the reference's per-document pipeline (cf.
/root/reference/src/pipeline.py — single-corpus, batch-at-once) with the
corpus-level curation steps a 100 TB training-data build needs.  Every
operator is pure JVM column expressions + standard joins (no Python in any
hot path) and each driver query has an exact DuckDB oracle in
pdf_parser_spark/faces/curation.py.

Scale notes are per-operator; the shared principles:
- candidate generation is always bounded (broadcast benchmark set, LSH band
  buckets, per-stratum windows) — never an all-pairs join;
- sampling/packing decisions are pure functions of the row (md5-hash
  thresholds, per-key running sums), so re-running on a changed cluster
  size or after a resume yields byte-identical output.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf_parser_spark.functions import portable_hash32, words, word_shingles

# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

BENCH_MOD = 37  # doc_id % BENCH_MOD == 0 rows stand in for the benchmark set


def benchmark_snippets(documents: DataFrame, mod: int = BENCH_MOD) -> DataFrame:
    """Deterministic stand-in for an eval-benchmark prompt set: the first 8
    words of every doc_id % mod == 0 document.  (In production this is the
    real benchmark table — MMLU/GSM8K prompts etc.)"""
    snippet = F.concat_ws(" ", F.slice(words(F.col("text")), 1, 8))
    return documents.where(F.col("doc_id") % mod == 0).select(snippet.alias("snippet"))


def decontaminate(documents: DataFrame, benchmark: DataFrame, n: int = 3) -> DataFrame:
    """Flag documents sharing any word n-gram with the benchmark set.

    (doc_id, n_shingles, n_hits, contaminated) — n_hits counts DISTINCT
    contaminated shingles per doc.

    Scale design: benchmark prompt sets are small (≤ millions of shingles)
    → broadcast; the per-doc shingle explode is narrow; the only shuffles
    are the groupBy(doc_id) hit count and the final doc_id join, which AQE
    turns into a broadcast of the (tiny, post-filter) hit table.  At 10^12
    docs nothing here grows beyond O(corpus tokens) map-side work.
    """
    bench_sh = (
        benchmark.select(
            F.explode(F.array_distinct(word_shingles(F.col("snippet"), n))).alias("s")
        ).distinct()
    )
    doc_sh = documents.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), n))).alias("s"),
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    totals = documents.select(
        "doc_id",
        F.size(F.array_distinct(word_shingles(F.col("text"), n)))
        .cast("long")
        .alias("n_shingles"),
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# Bloom prefilter sizing: ~10 bits/key at k=7 probes ≈ 0.8% false-positive
# rate — false positives only cost a row in the exact-verify semi join, so
# the OUTPUT is unaffected by the rate; only the prune factor is.
BLOOM_BITS_PER_KEY = 10
BLOOM_K = 7
_BLOOM_MIX = 0x9E3779B97F4A7C15  # splitmix64 increment (public constant)


def _bloom_bit_positions(h, m: int):
    """k bit positions for 64-bit hashes `h` (numpy uint64 array), shape
    (k, n).  Kirsch–Mitzenmacher double hashing: pos_i = h1 + i*h2 mod m,
    with h2 an odd splitmix-style remix of h so the probe sequence cycles.
    ONE function serves build and probe — they cannot diverge."""
    import numpy as np

    h = h.astype(np.uint64, copy=False)
    h2 = (h ^ (h >> np.uint64(31))) * np.uint64(_BLOOM_MIX) | np.uint64(1)
    i = np.arange(BLOOM_K, dtype=np.uint64)[:, None]
    return ((h[None, :] + i * h2[None, :]) % np.uint64(m)).astype(np.int64)


def _bloom_build(hashes, m: int):
    """uint8 bitmap of m bits with every key's BLOOM_K positions set."""
    import numpy as np

    bits = np.zeros(m // 8, dtype=np.uint8)
    if len(hashes):
        pos = _bloom_bit_positions(np.asarray(hashes), m).ravel()
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bits


def decontaminate_bloom(
    documents: DataFrame, benchmark: DataFrame, n: int = 3
) -> DataFrame:
    """`decontaminate` with a Bloom prefilter — byte-identical output (same
    oracle), different broadcast economics.

    The exact path broadcasts the benchmark shingle STRINGS (10^8 shingles
    × ~40 bytes ≈ multi-GB — past the comfortable broadcast ceiling for a
    large benchmark/holdout union).  This variant broadcasts 10 BITS per
    shingle (~125 MB at 10^8): benchmark shingles are hashed JVM-side with
    xxhash64, the driver folds the hashes into a Bloom bitmap (the one
    driver-side step, O(benchmark) — the small side by contract, same
    fit-small split as kmeans), and a vectorized Arrow pandas UDF probes
    the broadcast bitmap over the corpus shingle stream.  Bloom filters
    have NO false negatives, so exact-verifying only the surviving ~1%
    against the real shingle set reproduces the exact answer bit-for-bit;
    false positives cost a discarded semi-join row, never a wrong output.
    At 10^12 docs the corpus-side work is one narrow scan + the same
    post-filter joins as `decontaminate`, on ~1% of the shingle volume.
    """
    from pyspark.sql.functions import pandas_udf

    spark = documents.sparkSession
    bench_sh = (
        benchmark.select(
            F.explode(F.array_distinct(word_shingles(F.col("snippet"), n))).alias("s")
        ).distinct()
    )
    hvals = [r.h for r in bench_sh.select(F.xxhash64("s").alias("h")).collect()]
    m = max(64, -(-(BLOOM_BITS_PER_KEY * len(hvals)) // 8) * 8)
    bits_bc = spark.sparkContext.broadcast(_bloom_build(hvals, m))

    @pandas_udf("boolean")
    def might_contain(h: pd.Series) -> pd.Series:
        import numpy as np

        bits = bits_bc.value
        pos = _bloom_bit_positions(h.to_numpy(dtype=np.int64), m)
        hit = (bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
        return pd.Series(hit.all(axis=0))

    doc_sh = documents.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), n))).alias("s"),
    )
    candidates = doc_sh.where(might_contain(F.xxhash64("s")))
    hits = (
        candidates.join(F.broadcast(bench_sh), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    totals = documents.select(
        "doc_id",
        F.size(F.array_distinct(word_shingles(F.col("text"), n)))
        .cast("long")
        .alias("n_shingles"),
    )
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns chosen to be byte-compatible between Java regex (Spark) and RE2
# (DuckDB): no lookaround, no backreferences, ASCII \b only.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{1,2}-\d{3}-\d{4}"


def with_synthetic_pii(documents: DataFrame) -> DataFrame:
    """Append deterministic PII (derived from doc_id alone) so the oracle
    can re-derive it: doc_id%4==0 → two emails, 1 → an IPv4, 2 → a phone,
    3 → untouched."""
    d = F.col("doc_id")
    email = F.concat(
        F.lit(" Contact user"), d, F.lit("@example.com or admin"),
        d, F.lit("@mail.example.org."),
    )
    ip = F.concat(
        F.lit(" Origin server 10."), d % 256, F.lit("."),
        F.floor(d / 256).cast("long") % 256, F.lit("."), d % 100 + 1,
        F.lit(" logged."),
    )
    phone = F.concat(
        F.lit(" Call +1-555-"), F.lpad((d % 10000).cast("string"), 4, "0"),
        F.lit(" now."),
    )
    suffix = (
        F.when(d % 4 == 0, email)
        .when(d % 4 == 1, ip)
        .when(d % 4 == 2, phone)
        .otherwise(F.lit(""))
    )
    return documents.withColumn("text", F.concat(F.col("text"), suffix))


def pii_scrub(documents: DataFrame) -> DataFrame:
    """(doc_id, n_emails, n_ips, n_phones, clean_md5) — counts matched on the
    ORIGINAL text; clean_md5 = md5 of the text after sequential redaction
    (emails → <EMAIL>, then IPs → <IP>, then phones → <PHONE>), pinning the
    redacted bytes exactly.  Pure JVM regexp ops — whole-stage codegen, one
    pass, no shuffle."""
    t = F.col("text")
    clean = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(clean, IP_RE, "<IP>")
    clean = F.regexp_replace(clean, PHONE_RE, "<PHONE>")
    return documents.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0))).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(IP_RE), F.lit(0))).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0))).cast("long").alias("n_phones"),
        F.md5(clean).alias("clean_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

# per-language keep rates in basis points of 10000 (the usual "rebalance the
# language mix" curation step)
DEFAULT_RATES = {"en": 5000, "zh": 3000, "de": 2500, "fr": 1000, "es": 500}


def stratified_sample(documents: DataFrame, rates: dict[str, int] | None = None) -> DataFrame:
    """Hash-deterministic per-language downsampling: keep a row iff
    md5('smpl:'||doc_id) mod 10000 < rate_bp[lang].  (doc_id, lang).

    The rate table is a broadcast dim join (not a CASE expression) because
    in production it is a real config table; languages absent from the plan
    are dropped (inner join).  Determinism means resumes/re-runs at any
    cluster size select the identical sample — no RNG state, no
    sample()-by-partition nondeterminism."""
    rates = rates if rates is not None else DEFAULT_RATES
    dim = documents.sparkSession.createDataFrame(
        sorted(rates.items()), "lang string, rate_bp long"
    )
    h = portable_hash32(F.concat(F.lit("smpl:"), F.col("doc_id").cast("string"))) % 10000
    return (
        documents.join(F.broadcast(dim), "lang")
        .where(h < F.col("rate_bp"))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Token-budget shard packing
# ---------------------------------------------------------------------------


def pack_shards(documents: DataFrame, budget_tokens: int = 500) -> DataFrame:
    """Assign documents to fixed-token-budget training shards by sequential
    packing within each source: shard_id = floor(prefix_token_sum / budget)
    over (source, doc_id asc).  (doc_id, source, n_tokens, shard_id).

    Scale design: the running sum is a window PARTITIONED BY source, so it
    parallelizes across sources (one shuffle, no global ordering).  A
    corpus-global packing would need the two-phase parallel prefix sum
    (per-partition subtotals → tiny driver-side offset table → broadcast
    back); per-source shards are what training pipelines actually write, so
    the partitioned form is the production shape."""
    n_tok = F.size(words(F.col("text"))).cast("long")
    w = Window.partitionBy("source").orderBy("doc_id")
    prev_cum = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        documents.select("doc_id", "source", n_tok.alias("n_tokens"))
        .withColumn("shard_id", F.floor(prev_cum / F.lit(budget_tokens)).cast("long"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Training-chunk windowing (the fixed-context-window split every LM trainer
# runs between curation and tokenizer packing)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 16    # tokens per chunk (sf-sized; production: the model ctx)
CHUNK_STRIDE = 12  # overlap = CHUNK_SIZE - CHUNK_STRIDE tokens


def chunk_windows(
    documents: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Sliding fixed-size token windows per document: chunk k covers tokens
    [k*stride, k*stride + size), for every start < n_tokens (BERT-style
    striding — the final window may be short, and may add no new tokens when
    n lands inside the previous window's tail; both are emitted, as trainers
    expect a deterministic chunk count from n alone).
    (doc_id, chunk_id, start_tok, n_chunk_tokens, chunk_text).

    Scale: pure per-row fan-out — explode over an arithmetic sequence, no
    shuffle anywhere; output row count is sum(ceil(n_i/stride)), bounded by
    corpus tokens / stride.  The fan-out happens inside the scan stage, so
    a downstream .write streams chunks without materializing documents."""
    # whitespace-only docs emit nothing (words('') is [''] — one empty
    # token — under the shared splitter, so the guard is on the text)
    t = (
        documents.where(F.trim(F.col("text")) != "")
        .select("doc_id", words(F.col("text")).alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n") - 1, F.lit(0)), F.lit(stride)
    )
    return (
        t.withColumn("start_tok", F.explode(starts))
        .select(
            "doc_id",
            F.expr(f"start_tok div {stride}").cast("long").alias("chunk_id"),
            F.col("start_tok").cast("long").alias("start_tok"),
            F.least(F.lit(size), F.col("n") - F.col("start_tok"))
            .cast("long").alias("n_chunk_tokens"),
            F.array_join(
                F.slice(F.col("toks"), F.col("start_tok") + 1, F.lit(size)), " "
            ).alias("chunk_text"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# Mixture resampling (epoch-weighted data mixing: hit target per-source
# token proportions by integer repetition + hash-fractional keep)
# ---------------------------------------------------------------------------

# target mixture in basis points of the output budget; sources absent from
# the plan are dropped (inner join), like stratified_sample's rate dim
MIXTURE_WEIGHTS = {"src0": 4000, "src1": 3000, "src2": 2000, "src3": 1000}


def mixture_resample(
    documents: DataFrame,
    weights: dict[str, int] | None = None,
    budget_tokens: int | None = None,
) -> DataFrame:
    """Deterministic epoch mixing (the Pile/DoReMi-style static mixture):
    each source's documents are repeated so its token share of the output
    matches ``weights`` (bp).  Per-source epochs in basis points:
    e_bp = budget * weight_bp div src_tokens — every doc gets e_bp div 10000
    full copies plus one extra iff md5('mix:'||doc_id) % 10000 < e_bp %
    10000, so over-weighted sources upsample (epochs > 1) and under-weighted
    ones downsample, with no RNG state and byte-identical output at any
    cluster size.  ``budget_tokens`` defaults to the weighted sources' total
    token count.  (doc_id, source, n_tokens, n_copies, copy_id).

    Scale: one map-side-combined groupBy builds the per-source token-count
    dim (rows = #sources), the epoch rates join back as a broadcast dim, and
    the copy fan-out is an in-scan explode over sequence(1, n_copies) — no
    shuffle on the corpus itself."""
    weights = MIXTURE_WEIGHTS if weights is None else weights
    dim = documents.sparkSession.createDataFrame(
        sorted(weights.items()), "source string, weight_bp long"
    )
    toks = documents.select(
        "doc_id", "source", F.size(words(F.col("text"))).cast("long").alias("n_tokens")
    )
    tot = (
        toks.join(F.broadcast(dim), "source")
        .groupBy("source", "weight_bp")
        .agg(F.sum("n_tokens").alias("src_tokens"))
    )
    if budget_tokens is None:
        # default budget = the weighted sources' total: a global window over
        # the #sources-row dim (tiny by construction — never the corpus)
        rates = tot.withColumn(
            "budget_tokens", F.sum("src_tokens").over(Window.partitionBy())
        )
    else:
        rates = tot.withColumn("budget_tokens", F.lit(int(budget_tokens)))
    rates = rates.select(
        "source",
        F.expr("budget_tokens * weight_bp div src_tokens").alias("e_bp"),
    )
    h = portable_hash32(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    ) % 10000
    n_copies = (
        F.expr("e_bp div 10000") + (h < F.col("e_bp") % 10000).cast("long")
    ).cast("long")
    return (
        toks.join(F.broadcast(rates), "source")
        .withColumn("n_copies", n_copies)
        .where(F.col("n_copies") > 0)
        .select(
            "doc_id", "source", "n_tokens", "n_copies",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.col("n_copies"))
            ).alias("copy_id"),
        )
        .orderBy("doc_id", "copy_id")
    )


# ---------------------------------------------------------------------------
# LM fluency coverage (CCNet-style, exact-integer formulation)
# ---------------------------------------------------------------------------

CLEAN_MOD = 7     # doc_id % CLEAN_MOD == 0 rows stand in for the clean corpus
VOCAB_SIZE = 256


def fit_vocab(documents: DataFrame, mod: int = CLEAN_MOD, size: int = VOCAB_SIZE) -> DataFrame:
    """(token, rank) — the top `size` lowercase whitespace tokens of the
    clean reference subset, ranked by (count desc, token asc).  The model-fit
    pass of CCNet-style LM filtering (a unigram frequency model instead of a
    KenLM — log-prob floats don't survive cross-engine hash comparison, so
    the scoring below uses exact integer ranks).

    The global row_number window runs on the aggregated vocab table —
    vocab-sized (≤ distinct tokens of the clean subset), never corpus-sized,
    so the single-partition sort is a dim-table operation by construction."""
    toks = documents.where(F.col("doc_id") % mod == 0).select(
        F.explode(F.transform(words(F.col("text")), F.lower)).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.select("token", F.row_number().over(w).alias("rank"))
        .where(F.col("rank") <= size)
    )


def lm_coverage(documents: DataFrame, vocab: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_in_vocab, coverage_bp, sum_rank) — per-doc
    fluency proxy against the fitted vocab: coverage in basis points
    (integer floor of in-vocab fraction × 10000) and the summed frequency
    ranks of matched tokens (lower rank = more common).  All exact BIGINT
    arithmetic — hash-stable across engines.

    Scale design: the vocab is a broadcast dim (≤ VOCAB_SIZE rows); the
    token explode is narrow; the single shuffle is the groupBy(doc_id)
    rollup with map-side partial aggregation."""
    ex = documents.select(
        "doc_id", F.explode(F.transform(words(F.col("text")), F.lower)).alias("token")
    )
    joined = ex.join(F.broadcast(vocab), "token", "left")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.count("rank").alias("n_in_vocab"),
            F.coalesce(F.sum("rank"), F.lit(0)).cast("long").alias("sum_rank"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_in_vocab",
            F.floor(F.col("n_in_vocab") * 10000 / F.col("n_tokens"))
            .cast("long")
            .alias("coverage_bp"),
            "sum_rank",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental dedup against an existing corpus index
# ---------------------------------------------------------------------------

INDEX_MOD = 5  # doc_id % INDEX_MOD == 0 rows stand in for the ingested corpus


def incremental_dedup(documents: DataFrame, index_mod: int = INDEX_MOD) -> DataFrame:
    """Classify a new crawl batch against an already-ingested corpus index:
    (doc_id, verdict ∈ {dup_exact, near_dup, novel}) for every batch doc.

    dup_exact: normalized-text md5 fingerprint already in the index.
    near_dup: shares ≥1 MinHash-LSH band bucket with an index doc (and is
    not an exact dup).  Otherwise novel.

    The demo splits one table by doc_id % index_mod; in production the
    index is a persisted (fp) / (band, bucket) pair of tables bucketed on
    their join keys, so each nightly batch joins against it with zero
    index-side shuffle.  The index side is corpus-sized — these are
    shuffle/bucket joins, NOT broadcasts."""
    from pdf_parser_spark.operators.dedup import minhash_bands

    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    is_index = F.col("doc_id") % index_mod == 0
    index = documents.where(is_index)
    batch = documents.where(~is_index)

    index_fps = index.select(fp.alias("fp")).distinct()
    exact_ids = (
        batch.select("doc_id", fp.alias("fp"))
        .join(index_fps, "fp", "left_semi")
        .select("doc_id")
        .withColumn("is_exact", F.lit(True))
    )
    index_bands = minhash_bands(index).select("band", "bucket").distinct()
    near_ids = (
        minhash_bands(batch)
        .join(index_bands, ["band", "bucket"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    return (
        batch.select("doc_id")
        .join(exact_ids, "doc_id", "left")
        .join(near_ids, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), F.lit("dup_exact"))
            .when(F.col("is_near"), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Corpus-level line deduplication (CCNet-style boilerplate removal)
# ---------------------------------------------------------------------------

LINE_MIN_DF = 2  # a line repeated in >= this many docs is boilerplate
# host-scoped threshold (see line_dedup scope_col): high enough that a line
# must saturate a single host's pages to count as that host's boilerplate —
# cross-host common lines (navigation idioms, legal phrases) stay.  On the
# synthetic corpus (25 docs/source at the gate scale) this keeps the
# subscribe block (df≈17 within any one source, hot only globally) while
# still dropping the per-source footer (df=25)
LINE_HOST_MIN_DF = 20


def with_synthetic_lines(documents: DataFrame) -> DataFrame:
    """Add a ``text_multi`` column: the doc rebuilt as newline-separated
    lines — nav/subscribe/footer boilerplate shared across docs plus two
    body lines sliced from the real text.  (documents.text itself is
    single-line at every SF, so line-level ops would be degenerate on it;
    every piece here is a pure function of (doc_id, source, text) so the
    DuckDB oracle re-derives the identical multi-line text.)"""
    toks = words(F.col("text"))
    lines = F.array(
        F.when(F.col("doc_id") % 2 == 0, F.lit("Home | About | Contact"))
        .otherwise(F.lit("")),
        F.concat_ws(" ", F.slice(toks, 1, 12)),
        F.concat_ws(" ", F.slice(toks, 13, 12)),
        F.when(F.col("doc_id") % 3 != 2, F.lit("Subscribe to our newsletter"))
        .otherwise(F.lit("")),
        F.concat(F.lit("(c) "), F.col("source"), F.lit(" media group")),
    )
    multi = F.concat_ws("\n", F.filter(lines, lambda x: x != ""))
    return documents.withColumn("text_multi", multi)


def with_c4_lines(documents: DataFrame) -> DataFrame:
    """Add a ``text_c4`` column: the doc rebuilt as lines that EXERCISE each
    C4 cleaning rule (Raffel et al. 2020 §2.2) on a deterministic doc_id
    schedule — proper sentences from the real text, a no-punctuation line,
    a too-short line, and the javascript / cookie-policy / lorem-ipsum /
    curly-brace / bad-word killers on coprime moduli so every rule fires
    alone and in combination.  Pure function of (doc_id, text): the DuckDB
    oracle re-derives the identical text (same NB as with_synthetic_lines:
    Spark's concat_ws over an empty slice is '', DuckDB's array_to_string
    is NULL — the SQL twin coalesces)."""
    toks = words(F.col("text"))
    did = F.col("doc_id")
    lines = F.array(
        F.concat(F.concat_ws(" ", F.slice(toks, 1, 12)), F.lit(".")),
        F.when(did % 3 == 0,
               F.lit("Enable javascript to view this content."))
        .otherwise(F.lit("")),
        F.concat(F.concat_ws(" ", F.slice(toks, 13, 12)),
                 F.when(did % 2 == 0, F.lit(".")).otherwise(F.lit(""))),
        F.when(did % 4 == 0,
               F.lit("This website uses cookies to improve your experience."))
        .otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("Click here now.")).otherwise(F.lit("")),
        F.when(did % 11 == 0,
               F.lit("Buy cheap casino chips online right now."))
        .otherwise(F.lit("")),
        F.when(did % 13 == 0,
               F.lit("lorem ipsum dolor sit amet consectetur."))
        .otherwise(F.lit("")),
        F.when(did % 17 == 0,
               F.lit("var f = function() { return 1; }"))
        .otherwise(F.lit("")),
        F.concat(F.concat_ws(" ", F.slice(toks, 25, 12)), F.lit("?")),
    )
    multi = F.concat_ws("\n", F.filter(lines, lambda x: x != ""))
    return documents.withColumn("text_c4", multi)


def line_dedup(
    df: DataFrame,
    text_col: str = "text_multi",
    min_df: int = LINE_MIN_DF,
    broadcast_hot: bool = True,
    scope_col: str | None = None,
) -> DataFrame:
    """Remove lines that appear in >= min_df documents corpus-wide (the
    CCNet paragraph-hash dedup: nav bars, cookie banners, subscribe blocks
    dominate crawl text and repeat across millions of pages).

    Returns (doc_id, n_lines, n_kept, clean_md5) — clean_md5 pins the
    byte-exact surviving text (lines re-joined in original order), so the
    oracle catches any ordering or off-by-one slip, not just counts.

    ``scope_col`` switches to WITHIN-SCOPE dedup (RefinedWeb/trafilatura
    rule: a line is boilerplate only when it saturates pages of the SAME
    host — document frequency and the anti-join both key on (scope, fp)).
    At equal min_df host scoping can only keep MORE (global df >= any
    per-host df); the reason to scope is that it makes a LOW threshold safe
    — within one host, repetition is template chrome almost surely, while
    globally the same threshold would delete legitimate cross-site idioms
    (dates, legal phrases, common headings).  Scoping also de-skews the
    anti-join: a globally-mega-hot fingerprint (the empty line) is one
    reduce key corpus-wide but (n_hosts) keys when compounded with the
    scope.

    Plan: posexplode (narrow) -> groupBy(md5(line)) document-frequency
    count (shuffle 1, map-side combined) -> heavy-line anti-join ->
    groupBy(doc_id) reassembly (shuffle 2).  With broadcast_hot=True the
    anti-join broadcasts the post-filter heavy set — right when min_df is
    high enough that the set is genuinely small (top boilerplate).  At
    CCNet's min_df=2 over 100 TB the duplicated-line set is itself
    corpus-scale: set broadcast_hot=False and the anti-join becomes a
    shuffle join on the line hash (one extra shuffle of the exploded
    lines, each partition bounded) — the knob IS the scale decision.
    """
    keys = ([scope_col] if scope_col else []) + ["fp"]
    lines = df.select(
        "doc_id",
        *([scope_col] if scope_col else []),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("fp", F.md5("line"))
    hot = (
        lines.groupBy(*keys)
        .agg(F.countDistinct("doc_id").alias("dfreq"))
        .where(F.col("dfreq") >= min_df)
        .select(*keys)
    )
    kept = lines.join(
        F.broadcast(hot) if broadcast_hot else hot, keys, "left_anti"
    )
    agg = kept.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.md5(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda s: s.line,
                ),
            )
        ).alias("clean_md5"),
    )
    totals = df.select(
        "doc_id", F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines")
    )
    return (
        totals.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            F.coalesce("clean_md5", F.md5(F.lit(""))).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Quality-tier binning (curriculum buckets) without a global sort
# ---------------------------------------------------------------------------

N_TIERS = 10


def quality_tiers(scored: DataFrame, n_tiers: int = N_TIERS) -> DataFrame:
    """Assign each doc a quality tier 0..n_tiers-1 (0 = best) for curriculum
    sampling — exactly, WITHOUT the single-partition global-ORDER-BY window
    a naive ntile costs at corpus scale.

    quality is rounded to 4dp upstream, so it has <= 10001 distinct values:
    the value histogram (one bounded groupBy) + a running sum over that tiny
    dim gives each VALUE its exact cumulative rank, and
    tier = min(n_tiers-1, n_tiers * cum_before // total) maps every doc via
    a broadcast join — all-integer math, no per-row ordering.  Docs sharing
    a score share a tier (value-quantile semantics: saner than ntile's
    arbitrary intra-value splits, and the rule the oracle re-derives).

    Input: (doc_id, quality) from textstats.quality_score.
    Output: (doc_id, quality, tier).
    """
    from pyspark.sql import Window

    hist = scored.groupBy("quality").agg(F.count("*").alias("cnt"))
    w = Window.orderBy(F.col("quality").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # single-partition window over <= 10001 histogram rows — bounded by the
    # 4dp value domain, not the corpus
    tiers = hist.select(
        "quality",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_before"),
        F.sum("cnt").over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    ).select(
        "quality",
        F.least(
            F.lit(n_tiers - 1),
            F.expr(f"({n_tiers} * cum_before) div total"),
        ).cast("long").alias("tier"),
    )
    return (
        scored.select("doc_id", "quality")
        .join(F.broadcast(tiers), "quality")
        .select("doc_id", "quality", "tier")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Mojibake repair (UTF-8 bytes mis-read as Latin-1, the classic crawl bug)
# ---------------------------------------------------------------------------

MOJIBAKE_MOD = 6
# telltale: A-tilde followed by a Latin-1 char in the UTF-8 continuation
# range (written with regex escapes -- U+0080..U+009F are control chars)
MOJIBAKE_RE = "Ã[\x80-\xbf]"


def with_mojibake(documents: DataFrame) -> DataFrame:
    """Append deterministic double-encoded suffixes ('café' stored as
    'cafÃ©' etc.) to doc_id%6 in {0,3} -- the corpus text is pure
    ASCII at every SF (verified), so the telltale appears ONLY where
    injected and the oracle can predict the repaired bytes exactly."""
    d = F.col("doc_id")
    suffix = (
        F.when(d % MOJIBAKE_MOD == 0, F.lit(" summer cafÃ© menu"))
        .when(d % MOJIBAKE_MOD == 3,
              F.lit(" naÃ¯ve rÃ©sumÃ© attached"))
        .otherwise(F.lit(""))
    )
    return documents.withColumn("text", F.concat(F.col("text"), suffix))


def repair_mojibake(df: DataFrame) -> DataFrame:
    """(doc_id, had_mojibake, repaired_md5) -- repair UTF-8-read-as-Latin-1
    double encoding: re-encode the text as ISO-8859-1 (recovering the
    original UTF-8 bytes) and decode as UTF-8, gated on the telltale so
    clean text is never touched.  Pure JVM column ops (encode/decode), one
    codegen'd pass, no Python.

    Production caveat: the re-interpreted bytes can be INVALID UTF-8 when
    the telltale fires on genuinely-Latin-1 text -- the pair telltale used
    here (A-tilde + continuation-range char) is the standard heuristic;
    keep the original when a strict decode rejects the reinterpretation."""
    flag = F.col("text").rlike(MOJIBAKE_RE)
    repaired = F.when(
        flag, F.decode(F.encode(F.col("text"), "ISO-8859-1"), "UTF-8")
    ).otherwise(F.col("text"))
    return df.select(
        "doc_id",
        flag.alias("had_mojibake"),
        F.md5(repaired).alias("repaired_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# DSIR-style importance selection (hashed n-gram features)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096    # hashed feature space (production: 2^16+)
DSIR_TARGET_MOD = 9    # doc_id % MOD == 0 rows stand in for the target corpus
DSIR_SCALE = 10000     # basis points


def dsir_select(
    documents: DataFrame,
    buckets: int = DSIR_BUCKETS,
    target_mod: int = DSIR_TARGET_MOD,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS 2023):
    score every raw document by how much its hashed-bigram distribution
    looks like a small high-quality target corpus, then select documents
    whose importance exceeds the corpus prior.

    Cross-engine-exact reformulation: DSIR's per-feature log(p_target/p_raw)
    is replaced by the unsmoothed integer count ratio (tgt_n*SCALE div
    raw_n) in basis points — well-defined because the dim only contains
    observed buckets (raw_n >= 1), and centered at the prior SCALE/mod so
    the threshold is meaningful (+1 smoothing inflates every rare bucket
    far above the prior and degenerates the selection) — and its
    Gumbel-top-k sampling by the deterministic threshold score >= SCALE div
    target_mod (a doc is selected when its average target/raw ratio beats
    the target corpus' own share).  Monotonicity per feature is preserved;
    everything is BIGINT on both engines.

    Returns (doc_id, n_grams, score_bp, selected) ordered by doc_id.

    Scale design: ONE corpus pass builds the feature dim — groupBy on the
    hashed bucket with a conditional sum for the target counts, map-side
    combined, output bounded by ``buckets`` rows — which then broadcasts
    back onto the gram stream for the per-doc aggregation (second pass,
    combiner-friendly groupBy(doc_id)).  No all-pairs, no skew: bucket
    cardinality is fixed by construction, and hot buckets are handled by
    the partial aggregate, not the join.
    """
    grams = documents.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("g")
    ).withColumn("b", F.pmod(portable_hash32(F.col("g")), F.lit(buckets)))
    dim = (
        grams.groupBy("b")
        .agg(
            F.count("*").alias("raw_n"),
            F.sum(
                F.when(F.col("doc_id") % target_mod == 0, 1).otherwise(0)
            ).alias("tgt_n"),
        )
        .withColumn(
            "ratio_bp",
            F.expr(f"(tgt_n * {DSIR_SCALE}) div raw_n").cast("long"),
        )
        .select("b", "ratio_bp")
    )
    scored = (
        grams.join(F.broadcast(dim), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("ratio_bp").alias("s"),
        )
    )
    thr = DSIR_SCALE // target_mod
    return scored.select(
        "doc_id",
        "n_grams",
        F.expr("s div n_grams").cast("long").alias("score_bp"),
        (F.expr("s div n_grams") >= thr).alias("selected"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Dolma-style paragraph attribute tagging
# ---------------------------------------------------------------------------

PARA_MIN_TOKENS = 3     # keep-rule floor (Dolma/Gopher short-line cue)
PARA_MIN_ALPHA_BP = 6000  # >= 60% alphabetic chars (C4 symbol/boilerplate cue)


def paragraph_tags(df: DataFrame, text_col: str = "text_multi") -> DataFrame:
    """Per-paragraph attribute taggers in the Dolma architecture (Soldaini
    et al., ACL 2024): taggers emit typed attributes per paragraph span, a
    downstream mixer applies the keep rule — here both stages fused, all
    JVM column ops.

    Attributes: token count, alphabetic-character share (basis points),
    terminal-punctuation flag (C4's line filter cue), nav-separator flag.
    ``keep`` is the mixer verdict: >= PARA_MIN_TOKENS tokens, alphabetic
    share >= PARA_MIN_ALPHA_BP, and not a nav row.

    Returns (doc_id, para_idx, n_tokens, alpha_bp, ends_punct, is_nav,
    keep), para_idx 0-based in document order.

    Scale design: a pure in-scan posexplode — paragraphs never shuffle at
    all (the fan-out is narrow and every attribute is computed from the
    paragraph string alone).  At 10^12 docs this is exactly as expensive
    as reading the text once.
    """
    paras = df.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("para_idx", "para"),
    )
    toks = F.filter(
        F.split(F.trim(F.col("para")), r"\s+"), lambda w: w != ""
    )
    n_tokens = F.size(toks).cast("long")
    alpha_bp = F.expr(
        f"(length(regexp_replace(para, '[^A-Za-z]', '')) * {10000}) "
        "div greatest(length(para), 1)"
    ).cast("long")
    ends_punct = F.col("para").rlike(r'[.!?"]\s*$')
    is_nav = F.col("para").contains("|")
    return (
        paras.select(
            "doc_id",
            F.col("para_idx").cast("long").alias("para_idx"),
            n_tokens.alias("n_tokens"),
            alpha_bp.alias("alpha_bp"),
            ends_punct.alias("ends_punct"),
            is_nav.alias("is_nav"),
            (
                (n_tokens >= PARA_MIN_TOKENS)
                & (alpha_bp >= PARA_MIN_ALPHA_BP)
                & ~is_nav
            ).alias("keep"),
        )
        .orderBy("doc_id", "para_idx")
    )


def paragraph_mixer_apply(df: DataFrame, text_col: str = "text_multi") -> DataFrame:
    """The Dolma mixer's APPLY face: drop paragraphs failing the
    paragraph_tags keep rule and pin the reassembled document bytes.

    Returns (doc_id, n_paras, n_kept, clean_md5) — clean_md5 is the md5 of
    kept paragraphs re-joined with newlines in original order, so span
    bookkeeping errors fail the hash, not just counts.

    Scale: same zero-shuffle in-scan shape as paragraph_tags — the whole
    tag-and-reassemble pipeline is higher-order array functions on the
    paragraph list inside one projection; nothing ever leaves the scan
    (contrast line_dedup, which must shuffle because its verdict is
    corpus-wide; the mixer verdict is per-paragraph-local)."""
    paras = F.split(F.col(text_col), "\n")
    n_tok = lambda p: F.size(  # noqa: E731
        F.filter(F.split(F.trim(p), r"\s+"), lambda w: w != "")
    )
    # alpha share >= threshold, in multiply form: (a*10000) div L >= T is
    # equivalent to a*10000 >= T*L for integer T (floor-div monotonicity),
    # and the multiply form works inside a lambda where expr() can't bind
    keep = lambda p: (  # noqa: E731
        (n_tok(p) >= PARA_MIN_TOKENS)
        & (
            F.length(F.regexp_replace(p, "[^A-Za-z]", "")) * 10000
            >= PARA_MIN_ALPHA_BP * F.greatest(F.length(p), F.lit(1))
        )
        & ~p.contains("|")
    )
    kept = F.filter(paras, keep)
    return df.select(
        "doc_id",
        F.size(paras).cast("long").alias("n_paras"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.concat_ws("\n", kept)).alias("clean_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# The composed corpus build (one hash over the whole training-data pipeline)
# ---------------------------------------------------------------------------


def _build_stages(documents: DataFrame) -> dict[str, DataFrame]:
    """The corpus_build survivor chain with every intermediate exposed —
    ONE definition shared by corpus_build and corpus_funnel (the Spark
    twin of the oracle-side _corpus_chain_for doctrine).  Keys in chain
    order: raw, gated, deduped, clean, sampled."""
    from pdf_parser_spark.operators import dedup as _dedup
    from pdf_parser_spark.operators import textstats as _ts

    gate_ids = _ts.quality_gate(documents).where(F.col("passed")).select("doc_id")
    gated = documents.join(gate_ids, "doc_id", "left_semi")

    keeper_ids = _dedup.exact_dedup_groups(gated).select(
        F.col("keep_doc_id").alias("doc_id")
    )
    deduped = gated.join(keeper_ids, "doc_id", "left_semi")

    cont = decontaminate(deduped, benchmark_snippets(documents))
    clean_ids = cont.where(~F.col("contaminated")).select("doc_id")
    clean = deduped.join(clean_ids, "doc_id", "left_semi")

    sampled_ids = stratified_sample(clean).select("doc_id")
    sampled = clean.join(sampled_ids, "doc_id", "left_semi")
    return {
        "raw": documents, "gated": gated, "deduped": deduped,
        "clean": clean, "sampled": sampled,
    }


def corpus_funnel(documents: DataFrame) -> DataFrame:
    """The burn-down funnel every corpus release reports: doc and token
    counts after each corpus_build stage, with exact-bp retention vs raw.
    (stage_idx, stage, n_docs, n_tokens, docs_retained_bp,
    tokens_retained_bp) in chain order raw -> gated -> deduped -> clean ->
    sampled.  Shares _build_stages with corpus_build verbatim, so the
    funnel can never describe a different pipeline than the one that runs.

    Scale: each stage is the semi-join chain corpus_build already pays;
    the counts are one map-side-combined agg per stage unioned into a
    5-row frame, and the raw totals broadcast."""
    stages = _build_stages(documents)
    order = ["raw", "gated", "deduped", "clean", "sampled"]
    counted = None
    for i, name in enumerate(order):
        c = stages[name].agg(
            F.lit(i).cast("long").alias("stage_idx"),
            F.lit(name).alias("stage"),
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.size(words(F.col("text")))).cast("long")
            .alias("n_tokens"),
        )
        counted = c if counted is None else counted.unionByName(c)
    raw = (
        documents.agg(
            F.count("*").cast("long").alias("raw_docs"),
            F.sum(F.size(words(F.col("text")))).cast("long")
            .alias("raw_tokens"),
        )
    )
    return (
        counted.crossJoin(F.broadcast(raw))
        .select(
            "stage_idx", "stage", "n_docs", "n_tokens",
            F.expr("(10000 * n_docs) div raw_docs").cast("long")
            .alias("docs_retained_bp"),
            F.expr("(10000 * n_tokens) div raw_tokens").cast("long")
            .alias("tokens_retained_bp"),
        )
        .orderBy("stage_idx")
    )


def corpus_build(documents: DataFrame) -> DataFrame:
    """The full training-corpus build as ONE dataflow — the curation analog
    of linkgraph.corpus_frontier: hard quality gate -> exact dedup (min-id
    keeper) -> benchmark decontamination -> hash-deterministic stratified
    sampling -> per-source token-budget shard packing.  Every stage
    consumes the previous stage's survivor set, so the composed driver
    oracle catches drift in ANY stage, not just the stage each standalone
    query covers.

    Returns (doc_id, source, lang, n_tokens, shard_id) for the packed
    survivors, ordered by doc_id.

    Scale: the stages keep their individual plans (semi joins on doc_id
    between them — key-only build sides, AQE-broadcast once each filter
    has cut the set); nothing new shuffles beyond the component designs.
    The benchmark set is built from the FULL corpus (eval prompts exist
    regardless of what the gate drops).
    """
    packed = pack_shards(_build_stages(documents)["sampled"])
    return (
        packed.join(documents.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "source", "lang", "n_tokens", "shard_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Charset sniffing at ingest (mojibake's upstream sibling: detect the
# encoding BEFORE the bytes are ever mis-decoded)
# ---------------------------------------------------------------------------

CHARSET_UTF8 = "utf-8"
CHARSET_UTF8_BOM = "utf-8-bom"
CHARSET_UTF16_LE = "utf-16-le"
CHARSET_UTF16_BE = "utf-16-be"
CHARSET_LATIN1 = "latin-1"


def with_mixed_encodings(documents: DataFrame) -> DataFrame:
    """Synthesis: re-encode each doc's text per the doc_id%5 formula —
    plain UTF-8 / UTF-8+BOM / UTF-16LE+BOM / UTF-16BE+BOM / Latin-1 with a
    trailing 'é.' (0xE9 then '.', guaranteed-invalid UTF-8) — all with JVM
    encode(), so the raw bytes never touch Python."""
    d, t = F.col("doc_id"), F.col("text")
    html = (
        F.when(d % 5 == 1, F.concat(F.lit(b"\xef\xbb\xbf"), F.encode(t, "UTF-8")))
        .when(d % 5 == 2, F.concat(F.lit(b"\xff\xfe"), F.encode(t, "UTF-16LE")))
        .when(d % 5 == 3, F.concat(F.lit(b"\xfe\xff"), F.encode(t, "UTF-16BE")))
        .when(d % 5 == 4, F.encode(F.concat(t, F.lit("é.")), "ISO-8859-1"))
        .otherwise(F.encode(t, "UTF-8"))
    )
    return documents.withColumn("html", html)


def _sniff_exprs(html_col: str):
    """(charset, decoded_text) Columns — shared by sniff_decode and the
    composed ingest_pipeline so detection and decode cannot diverge."""
    h = F.col(html_col)
    p3 = F.expr(f"substring({html_col}, 1, 3)")
    p2 = F.expr(f"substring({html_col}, 1, 2)")
    rest3 = F.expr(f"substring({html_col}, 4, 2147483647)")
    rest2 = F.expr(f"substring({html_col}, 3, 2147483647)")
    charset = (
        F.when(p3 == F.lit(b"\xef\xbb\xbf"), CHARSET_UTF8_BOM)
        .when(p2 == F.lit(b"\xff\xfe"), CHARSET_UTF16_LE)
        .when(p2 == F.lit(b"\xfe\xff"), CHARSET_UTF16_BE)
        .when(F.is_valid_utf8(h), CHARSET_UTF8)
        .otherwise(F.lit(CHARSET_LATIN1))
    )
    text = (
        F.when(charset == CHARSET_UTF8_BOM, F.decode(rest3, "UTF-8"))
        .when(charset == CHARSET_UTF16_LE, F.decode(rest2, "UTF-16LE"))
        .when(charset == CHARSET_UTF16_BE, F.decode(rest2, "UTF-16BE"))
        .when(charset == CHARSET_UTF8, F.decode(h, "UTF-8"))
        .otherwise(F.decode(h, "ISO-8859-1"))
    )
    return charset, text


def sniff_decode(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Detect each page's charset from its raw bytes and decode it —
    (doc_id, charset, text_md5).  Entirely JVM column expressions
    (binary substring + Spark 4's is_valid_utf8 + per-branch decode with
    literal charsets): zero Python, zero shuffle, whole-stage codegen —
    at 10^12 docs this is free inside the ingest scan.

    Detection order: UTF-8 BOM, UTF-16LE/BE BOM, UTF-8 validity, Latin-1
    fallback (Latin-1 maps every byte, so the fallback never fails —
    exactly the order real sniffers use before statistical heuristics).
    BOM-less UTF-16 is NOT claimed: its ASCII-range bytes interleave NULs
    that are VALID UTF-8, so only a frequency heuristic could catch it —
    out of scope here, as in WHATWG's BOM-first algorithm.

    The oracle cannot decode UTF-16 (DuckDB is UTF-8-only), so it predicts
    what the decode MUST produce from the synthesis formula — the same
    contract as mojibake: the engine does the real byte work, the SQL
    knows the answer."""
    charset, text = _sniff_exprs(html_col)
    return pages.select(
        "doc_id",
        charset.alias("charset"),
        F.md5(F.encode(text, "UTF-8")).alias("text_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Unicode NFC normalization (ingest hygiene: decomposed sequences — e +
# U+0301 vs é — break exact dedup, shingle hashing, and benchmark
# decontamination, since every downstream fingerprint is byte-keyed)
# ---------------------------------------------------------------------------

# injection suffixes (interpolated into the oracle SQL so the formulas
# cannot drift): %3==0 gets a DECOMPOSED e+combining-acute, %3==1 the
# composed form — NFC maps the first onto the second
NFC_DECOMP_SUFFIX = " café"
NFC_COMP_SUFFIX = " café"


def with_denormalized(documents: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    return documents.withColumn(
        "text",
        F.when(d % 3 == 0, F.concat("text", F.lit(NFC_DECOMP_SUFFIX)))
        .when(d % 3 == 1, F.concat("text", F.lit(NFC_COMP_SUFFIX)))
        .otherwise(F.col("text")),
    )


def nfc_normalize_docs(documents: DataFrame) -> DataFrame:
    """(doc_id, changed, text_md5) — NFC-normalize every document and pin
    the canonical bytes.  The normalize itself is a vectorized Arrow
    pandas UDF over unicodedata.normalize (a C-implemented table lookup;
    no JVM NFC function exists) — one narrow stage, no shuffle, the same
    Arrow-batch shape as the extraction kernel.  This is a REAL
    cross-engine check, not a formula prediction: DuckDB computes
    nfc_normalize independently and both engines must agree on every
    canonical byte (ICU vs Python unicodedata implementing the same
    Unicode spec)."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unicodedata.normalize("NFC", x))

    nfc = _nfc(F.col("text"))
    return documents.select(
        "doc_id",
        (F.col("text") != nfc).alias("changed"),
        F.md5(F.encode(nfc, "UTF-8")).alias("text_md5"),
    ).orderBy("doc_id")


# lowercase-to-lowercase only: 'Wi-\nFi' style capital continuations stay
# broken (likely a true compound or a heading artifact, not a line wrap);
# ASCII classes are the Java-regex/RE2 portable subset
DEHYPHEN_RE = r"([a-z])-\n([a-z])"


def with_hyphen_wraps(documents: DataFrame) -> DataFrame:
    """Synthesis: doc_id%4 appends deterministic line-wrap suffixes —
    1 = two joinable wraps, 2 = an uppercase continuation that must NOT
    join, 3 = one joinable wrap; the oracle rebuilds the same bytes."""
    d = F.col("doc_id")
    return documents.withColumn(
        "text",
        F.when(d % 4 == 1, F.concat("text", F.lit(" broad-\ncasting net-\nworks")))
        .when(d % 4 == 2, F.concat("text", F.lit(" Wi-\nFi upper-\nCase")))
        .when(d % 4 == 3, F.concat("text", F.lit(" self-\nservice")))
        .otherwise(F.col("text")),
    )


def dehyphenate(documents: DataFrame) -> DataFrame:
    """(doc_id, n_joins, text_md5) — repair hyphen line wraps ('compa-\\n
    ny' -> 'company'), the classic PDF/OCR extraction artifact every
    ingest pipeline fixes before tokenization (a wrapped word is TWO
    out-of-vocabulary tokens plus a phantom hyphen in every n-gram that
    crosses it).  Join rule: letter '-' newline letter, lowercase on BOTH
    sides — capital continuations are likelier true compounds or heading
    artifacts and stay broken.  Matches apply left-to-right non-
    overlapping in both engines, so a chain 'a-\\nb-\\nc' joins at
    alternating wraps per pass (one pass is the standard treatment).

    One JVM regexp_replace in the scan — zero Python, zero shuffle;
    n_joins falls out of the length delta exactly (each join removes the
    2-char '-\\n').  Cross-engine check is REAL bytes, not a formula:
    DuckDB runs its own regexp_replace over the same constructed text
    ('g' flag = Spark's global default; '\\1' = Java's '$1') and both
    engines must agree on every repaired byte."""
    fixed = F.regexp_replace(F.col("text"), DEHYPHEN_RE, "$1$2")
    return documents.select(
        "doc_id",
        ((F.length("text") - F.length(fixed)) / 2).cast("long").alias("n_joins"),
        F.md5(F.encode(fixed, "UTF-8")).alias("text_md5"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Invisible-character scrub (ingest hygiene beside NFC/dehyphenate: zero-
# width and control characters survive HTML extraction and charset decode,
# then silently split tokens, break exact dedup fingerprints, and leak into
# training text — every public pipeline strips them)
# ---------------------------------------------------------------------------

# the scrub set: zero-width space/non-joiner/joiner, BOM/zero-width
# no-break space, soft hyphen, word joiner, LTR/RTL marks, and C0/DEL
# controls EXCEPT \t \n \r (real whitespace structure stays).  One char
# class shared verbatim by both engines: >U+00FF members are embedded as
# literal characters (Java regex and RE2 read them identically; the \uXXXX
# vs \x{XXXX} escape syntaxes differ), controls as \xhh (same in both).
INVISIBLE_CHARS = ("\u200b\u200c\u200d\ufeff\u00ad\u2060"
                   "\u200e\u200f")
INVISIBLE_RE = "[" + INVISIBLE_CHARS + r"\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"

# injection suffixes (interpolated into the oracle so formulas can't
# drift): %5==1 zero-width splits + soft hyphen, %5==2 BOM prefix + bell
# control, %5==3 directional marks + word joiner
INVIS_SUFFIX_1 = " zero\u200bwidth soft\u00adhyphen"
INVIS_SUFFIX_2 = " bell\x07control"
INVIS_PREFIX_2 = "\ufeff"  # BOM prefix for the %5==2 leg
INVIS_SUFFIX_3 = " mark\u200e\u200fjoin\u2060er"


def with_invisible_chars(documents: DataFrame) -> DataFrame:
    """Synthesis: deterministic invisible-char injections on doc_id%5
    (1/2/3 per the suffix constants; 2 also gets a BOM prefix; 0 and 4
    stay clean so `changed` varies)."""
    d = F.col("doc_id")
    return documents.withColumn(
        "text",
        F.when(d % 5 == 1, F.concat("text", F.lit(INVIS_SUFFIX_1)))
        .when(d % 5 == 2,
              F.concat(F.lit(INVIS_PREFIX_2), F.col("text"), F.lit(INVIS_SUFFIX_2)))
        .when(d % 5 == 3, F.concat("text", F.lit(INVIS_SUFFIX_3)))
        .otherwise(F.col("text")),
    )


def invisible_scrub(documents: DataFrame) -> DataFrame:
    """(doc_id, n_stripped, changed, text_md5) — remove the invisible set
    and pin the scrubbed bytes.  One JVM regexp_replace in the scan — zero
    Python, zero shuffle; n_stripped falls out of the length delta exactly
    (every member of the class is one code point).  Cross-engine check is
    REAL bytes: DuckDB runs its own regexp_replace with the identical
    class ('g' flag = Spark's global default) and both engines must agree
    on every surviving byte."""
    clean = F.regexp_replace(F.col("text"), INVISIBLE_RE, "")
    return documents.select(
        "doc_id",
        (F.length("text") - F.length(clean)).cast("long").alias("n_stripped"),
        (F.length("text") != F.length(clean)).alias("changed"),
        F.md5(F.encode(clean, "UTF-8")).alias("text_md5"),
    ).orderBy("doc_id")


def ingest_pipeline(
    pages: DataFrame, html_col: str = "html", return_text: bool = False
) -> DataFrame:
    """The composed ingest chain under ONE result — charset detect+decode
    (shared _sniff_exprs) -> NFC normalize (one Arrow UDF call) -> C4/
    Gopher hard gate (textstats.quality_gate on the NORMALIZED text):
    (doc_id, charset, nfc_changed, passed, text_md5).  Drift in any stage
    fails the one composed hash, the same doctrine as corpus_build.
    All corpus-scale work is narrow (decode and normalize live in the
    scan); the only join is gate-verdict-by-doc_id.

    ``return_text=True`` additionally carries the decoded+normalized text
    column so downstream stages (corpus_build in the WARC lifecycle
    composition) consume EXACTLY the bytes this chain produced instead of
    re-deriving them."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    from pdf_parser_spark.operators import textstats

    @pandas_udf("string")
    def _nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda x: unicodedata.normalize("NFC", x))

    charset, text = _sniff_exprs(html_col)
    pre = pages.select("doc_id", charset.alias("charset"), text.alias("_raw"))
    mid = pre.select(
        "doc_id", "charset", "_raw", _nfc(F.col("_raw")).alias("text")
    ).select(
        "doc_id", "charset",
        (F.col("_raw") != F.col("text")).alias("nfc_changed"), "text",
    )
    gate = textstats.quality_gate(mid).select("doc_id", "passed")
    extra = [F.col("text")] if return_text else []
    return (
        mid.join(gate, "doc_id")
        .select(
            "doc_id", "charset", "nfc_changed", "passed",
            F.md5(F.encode(F.col("text"), "UTF-8")).alias("text_md5"),
            *extra,
        )
        .orderBy("doc_id")
    )


def release_headline(documents: DataFrame) -> DataFrame:
    """The ONE-row release headline — the number block at the top of a
    corpus model card (Dolma/RefinedWeb/FineWeb all lead with it): corpus
    size, token count, exact-dup rate, hard-gate pass rate, language
    count, mean soft quality.  t_datasheet is the per-(source, lang)
    breakdown; this is the composed headline above it, and it deliberately
    COMPOSES the live gate and quality operators rather than re-deriving
    them, so the headline can never disagree with the per-doc tables it
    summarizes (corpus_build doctrine).

    (n_docs, n_tokens, n_distinct_texts, dup_bp, gate_pass_bp, n_langs,
    mean_quality_bp) — every rate an exact integer bp; quality enters as
    round(q * 10^4) per doc (the domain-prior doctrine: float means are
    the classic cross-engine hash hazard).

    Scale: three per-doc column passes joined on doc_id (AQE-planned) into
    ONE global aggregate; the only distinct is the text fingerprint (the
    quantity being measured) and the HLL swap documented on
    corpus_datasheet applies here identically at 10^12."""
    from pdf_parser_spark.functions import words
    from pdf_parser_spark.operators.textstats import quality_gate, quality_score

    base = documents.select(
        "doc_id", "lang",
        F.md5("text").alias("fp"),
        F.size(words(F.col("text"))).cast("long").alias("n_toks"),
    )
    gate = quality_gate(documents).select("doc_id", "passed")
    q = quality_score(documents).select(
        "doc_id",
        F.round(F.col("quality") * 10000).cast("long").alias("q_bp"),
    )
    return (
        base.join(gate, "doc_id").join(q, "doc_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.countDistinct("fp").cast("long").alias("n_distinct_texts"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum(F.when(F.col("passed"), 1).otherwise(0))
            .cast("long").alias("n_pass"),
            F.sum("q_bp").cast("long").alias("q_sum"),
        )
        .select(
            "n_docs", "n_tokens", "n_distinct_texts",
            F.expr("(10000 * (n_docs - n_distinct_texts)) div n_docs")
            .cast("long").alias("dup_bp"),
            F.expr("(10000 * n_pass) div n_docs").cast("long")
            .alias("gate_pass_bp"),
            "n_langs",
            F.expr("q_sum div n_docs").cast("long").alias("mean_quality_bp"),
        )
    )


# --- deterministic global training shuffle -----------------------------------

SHUFFLE_SEED = "ep0"  # epoch seed: a new seed is a new full reshuffle
SHUFFLE_SHARDS = 16   # demo; production sizes shards to the task sort buffer


def global_shuffle(
    documents: DataFrame, seed: str = SHUFFLE_SEED, n_shards: int = SHUFFLE_SHARDS
) -> DataFrame:
    """The last step before training: a DETERMINISTIC global shuffle —
    curated corpora arrive grouped by crawl/source/host, and an LM trained
    in that order sees non-stationary batches, so every pipeline shuffles;
    reproducibility demands the order be a pure function of (doc_id, seed),
    not a cluster race.  (doc_id, shard, pos): shard = md5-hash(seed:doc_id)
    mod n_shards, pos = rank of the hash within the shard (doc_id breaks
    hash-collision ties).  Changing the seed string reshuffles the whole
    corpus for the next epoch.

    Scale: this is 'global shuffle without a global sort' — the hash
    assignment is embarrassingly parallel, and the only ordering work is
    one window per shard (corpus/n_shards rows; production picks n_shards
    so a shard fits a task's spillable sort).  No corpus-wide ORDER BY
    exists in the plan; readers consume shards in any order because the
    randomness is already inside each shard."""
    from pyspark.sql import Window

    h = portable_hash32(
        F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))
    )
    keyed = documents.select("doc_id", h.alias("h")).withColumn(
        "shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("long")
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        keyed.select(
            "doc_id", "shard",
            (F.row_number().over(w) - 1).cast("long").alias("pos"),
        )
        .orderBy("doc_id")
    )


# --- token-sequence packing (concat-and-split, the step between shuffle and
# the training loop) -----------------------------------------------------------

SEQ_LEN = 32  # tokens per training sequence (sf-sized; production: model ctx)


def _pack_base(
    documents: DataFrame, seed: str, n_shards: int
) -> DataFrame:
    """Shared base for pack_sequences/packing_stats: each non-empty document
    in global_shuffle order with its token cost (whitespace tokens + 1 EOS)
    and its exclusive prefix offset within its shard's token stream."""
    from pyspark.sql import Window

    h = portable_hash32(
        F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))
    )
    t = (
        documents.where(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            h.alias("h"),
            (F.size(words(F.col("text"))) + 1).cast("long").alias("n_tok"),
        )
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("long"))
    )
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return t.withColumn(
        "off", (F.sum("n_tok").over(w) - F.col("n_tok")).cast("long")
    )


def pack_sequences(
    documents: DataFrame,
    seed: str = SHUFFLE_SEED,
    n_shards: int = SHUFFLE_SHARDS,
    seq_len: int = SEQ_LEN,
) -> DataFrame:
    """GPT-style concat-and-split sequence packing — the step every LM
    pipeline runs between the global shuffle and the training loop: each
    document's tokens plus one EOS are concatenated in shuffle order within
    their shard, and the stream is cut every ``seq_len`` tokens.  One output
    row per (document, sequence) overlap:

      (shard, seq_id, seq_slot_start, doc_id, doc_tok_start, doc_tok_end,
       n_toks)

    where ``seq_id`` is shard-local (floor(global offset / seq_len)),
    ``seq_slot_start`` is where the fragment lands inside the sequence, and
    ``[doc_tok_start, doc_tok_end)`` is the half-open token range of the
    document consumed by that sequence (index n_tok-1 is the EOS).  A
    document longer than ``seq_len`` spans several sequences; a document
    landing on a boundary appears in two.  Every shard's last sequence is
    partial — ``packing_stats`` reports that tail waste.

    Scale: the plan is _pack_base's one window per shard (the shuffle's own
    ordering work — nothing new shuffles) followed by an in-stage arithmetic
    explode over the sequences a document touches (ceil(n_tok/seq_len)+1
    rows max).  No token text materializes; readers join the manifest back
    to the corpus by doc_id and slice.  At 10^12 docs this is the manifest
    production writers stream per shard, and shard doubles as the partition
    key so a training reader's shard scan prunes."""
    t = _pack_base(documents, seed, n_shards)
    first_seq = F.expr(f"off div {seq_len}")
    last_seq = F.expr(f"(off + n_tok - 1) div {seq_len}")
    e = t.withColumn(
        "seq_id", F.explode(F.sequence(first_seq, last_seq))
    )
    doc_tok_start = F.greatest(
        F.lit(0).cast("long"), F.col("seq_id") * seq_len - F.col("off")
    )
    doc_tok_end = F.least(
        F.col("n_tok"), (F.col("seq_id") + 1) * seq_len - F.col("off")
    )
    return (
        e.select(
            "shard",
            F.col("seq_id").cast("long").alias("seq_id"),
            (F.col("off") + doc_tok_start - F.col("seq_id") * seq_len)
            .cast("long").alias("seq_slot_start"),
            "doc_id",
            doc_tok_start.cast("long").alias("doc_tok_start"),
            doc_tok_end.cast("long").alias("doc_tok_end"),
            (doc_tok_end - doc_tok_start).cast("long").alias("n_toks"),
        )
        .orderBy("doc_id", "seq_id")
    )


def packing_stats(
    documents: DataFrame,
    seed: str = SHUFFLE_SEED,
    n_shards: int = SHUFFLE_SHARDS,
    seq_len: int = SEQ_LEN,
) -> DataFrame:
    """Per-shard packing datasheet for pack_sequences: how many sequences
    the shard cuts, how many tokens the final partial sequence wastes, and
    how many documents straddle a sequence boundary (those pay the
    cross-document attention cost packing papers argue about).  One row per
    shard: (shard, n_docs, total_toks, n_seqs, tail_waste_toks, waste_bp,
    n_split_docs) with waste_bp = floor(10000 * waste / (n_seqs*seq_len)).

    Scale: rides _pack_base's window; the rollup is one groupBy over
    n_shards groups — exact BIGINT arithmetic throughout."""
    t = _pack_base(documents, seed, n_shards)
    split = (
        F.expr(f"off div {seq_len}")
        != F.expr(f"(off + n_tok - 1) div {seq_len}")
    ).cast("long")
    return (
        t.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_toks"),
            F.sum(split).cast("long").alias("n_split_docs"),
        )
        .select(
            "shard",
            "n_docs",
            "total_toks",
            # ceil(total/L) spelled (total+L-1) div L: `div` truncates toward
            # zero in Spark but floors in DuckDB, so the -(-a div b) trick
            # would diverge across engines; this form is exact for total >= 1
            F.expr(f"(total_toks + {seq_len - 1}) div {seq_len}")
            .cast("long").alias("n_seqs"),
            F.expr(
                f"((total_toks + {seq_len - 1}) div {seq_len})"
                f" * {seq_len} - total_toks"
            ).cast("long").alias("tail_waste_toks"),
            F.expr(
                f"(10000 * (((total_toks + {seq_len - 1}) div {seq_len})"
                f" * {seq_len} - total_toks))"
                f" div (((total_toks + {seq_len - 1}) div {seq_len})"
                f" * {seq_len})"
            ).cast("long").alias("waste_bp"),
            "n_split_docs",
        )
        .orderBy("shard")
    )


# --- fuzzy (MinHash-banded) benchmark decontamination -------------------------

FUZZY_DECON_BP = 5000  # exact-Jaccard verify threshold for a candidate


def decontaminate_fuzzy(
    documents: DataFrame,
    benchmark_docs: DataFrame,
    n: int = 3,
    threshold_bp: int = FUZZY_DECON_BP,
) -> DataFrame:
    """Fuzzy benchmark decontamination: flag corpus documents NEAR-DUPLICATE
    to an eval-benchmark document.  Complements `decontaminate`, which fires
    on ANY single shared n-gram — a common idiom coincidentally present in
    one benchmark prompt nukes every doc using it (the false-positive
    problem the GPT-3 paper's 13-gram rule is notorious for).  This face
    requires near-copy-level similarity (exact shingle Jaccard >=
    ``threshold_bp``), so one stray trigram never flags a doc, while a
    benchmark item embedded with light edits still does.
    ``benchmark_docs`` is (bench_id, text).

    Candidates come from the SAME LSH band layer as d_minhash_lsh (a corpus
    doc and a benchmark doc collide on any band bucket), then verify by
    exact shingle Jaccard in integer basis points.  Output: one row per
    (doc_id, bench_id) with jaccard_bp >= threshold —
    (doc_id, bench_id, n_shared_bands, jaccard_bp).

    Scale: benchmark sets are tiny (thousands of prompts) next to a 10^12
    corpus, so the bench bands AND bench shingle sets broadcast; the corpus
    side is the one banded scan dedup already pays, the band join is
    bucket-local, and the exact verify joins only candidates back to their
    two shingle sets.  Nothing all-pairs, nothing driver-side."""
    from pdf_parser_spark.operators.dedup import minhash_bands

    doc_bands = minhash_bands(documents, n)
    bench = benchmark_docs.select(
        F.col("bench_id").alias("doc_id"), "text"
    )
    bench_bands = minhash_bands(bench, n).select(
        F.col("doc_id").alias("bench_id"), "band", "bucket"
    )
    cand = (
        doc_bands.join(
            F.broadcast(bench_bands), on=["band", "bucket"], how="inner"
        )
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").cast("long").alias("n_shared_bands"))
    )
    doc_sh = documents.select(
        "doc_id", F.array_distinct(word_shingles(F.col("text"), n)).alias("sa")
    )
    bench_sh = benchmark_docs.select(
        "bench_id",
        F.array_distinct(word_shingles(F.col("text"), n)).alias("sb"),
    )
    icnt = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    ucnt = F.size(F.array_union(F.col("sa"), F.col("sb")))
    return (
        cand.join(doc_sh, "doc_id")
        .join(F.broadcast(bench_sh), "bench_id")
        .withColumn("icnt", icnt.cast("long"))
        .withColumn("ucnt", ucnt.cast("long"))
        .withColumn(
            "jaccard_bp", F.expr("(10000 * icnt) div ucnt").cast("long")
        )
        .where(F.col("jaccard_bp") >= threshold_bp)
        .select("doc_id", "bench_id", "n_shared_bands", "jaccard_bp")
        .orderBy("doc_id", "bench_id")
    )


def release_manifest(documents: DataFrame) -> DataFrame:
    """The curation-to-trainer lifecycle as ONE dataflow: corpus_build's
    survivor chain (gate -> exact dedup -> decontaminate -> stratified
    sample) feeding pack_sequences' shuffle-ordered concat-and-split — the
    manifest a trainer reads is a pure function of the raw corpus, and a
    drift in ANY stage (gate reasons, keeper election, contamination set,
    sampling hash, shuffle order, split arithmetic) changes the hash.

    Scale: corpus_build's semi-join chain + pack_sequences' one window per
    shard; the packing runs on the (much smaller) survivor set."""
    survivors = documents.join(
        corpus_build(documents).select("doc_id"), "doc_id", "left_semi"
    )
    return pack_sequences(survivors)


# --- token-budget selection (fill a training budget with the best docs) ------

BUDGET_TOKENS = 20_000  # sf-sized; production: the trillion-token target
BUDGET_SEED = "bsel"    # within-bucket tie order is a pure hash function


def budget_select(
    documents: DataFrame, budget_tokens: int = BUDGET_TOKENS
) -> DataFrame:
    """Token-budget selection: keep the highest-quality documents until the
    training budget fills ("select the best N tokens" — the step between
    scoring and mixing in every budgeted corpus build).  A document is kept
    iff the tokens of all strictly-better-quality docs plus its own
    within-bucket prefix start BEFORE the budget line (the one crossing doc
    is kept, so the output slightly overshoots — deterministic, and stated).

    Output: (doc_id, quality_bp, n_tokens, kept) for every doc, ordered by
    doc_id — the audit face a curation review wants (who was cut and by how
    much), with `kept` carrying the selection.

    Scale design — this is deliberately NOT a global ORDER BY + running sum
    (a corpus-wide single-partition window): quality quantizes to <= 10001
    integer-bp buckets, so (1) bucket token totals are one small groupBy,
    (2) the strictly-better prefix is a window over the BUCKET DIM (10^4
    rows, not 10^12), broadcast back, and (3) the only per-doc ordering
    work is a window PARTITIONED BY bucket (parallel across buckets, each
    ~corpus/10^4) whose order is a pure (md5, doc_id) hash function — so
    ties inside the boundary bucket resolve reproducibly, not by cluster
    race."""
    from pdf_parser_spark.operators.textstats import quality_score

    t = quality_score(documents).select(
        "doc_id",
        F.round(F.col("quality") * 10000).cast("long").alias("quality_bp"),
        "n_tokens",
    )
    buckets = t.groupBy("quality_bp").agg(
        F.sum("n_tokens").cast("long").alias("bucket_tokens")
    )
    # strictly-better prefix over the bucket dim (tiny: <= 10001 rows)
    wdim = Window.orderBy(F.col("quality_bp").desc())
    better = buckets.select(
        "quality_bp",
        (F.coalesce(
            F.sum("bucket_tokens").over(wdim), F.lit(0)
        ) - F.col("bucket_tokens")).cast("long").alias("better_tokens"),
    )
    h = portable_hash32(
        F.concat(F.lit(BUDGET_SEED + ":"), F.col("doc_id").cast("string"))
    )
    wb = Window.partitionBy("quality_bp").orderBy("h", "doc_id")
    ranked = (
        t.withColumn("h", h)
        .withColumn(
            "within_prefix",
            (F.sum("n_tokens").over(wb) - F.col("n_tokens")).cast("long"),
        )
    )
    return (
        ranked.join(F.broadcast(better), "quality_bp")
        .select(
            "doc_id",
            "quality_bp",
            "n_tokens",
            (F.col("better_tokens") + F.col("within_prefix")
             < F.lit(budget_tokens)).alias("kept"),
        )
        .orderBy("doc_id")
    )


def curriculum_order(
    documents: DataFrame,
    seed: str = SHUFFLE_SEED,
    n_shards: int = SHUFFLE_SHARDS,
    n_tiers: int = N_TIERS,
) -> DataFrame:
    """Curriculum/annealing read order: training consumes quality tiers
    WORST-FIRST (tier n-1 .. 0), so the highest-quality data lands at the
    end of training — the annealing schedule modern pipelines run — while
    WITHIN a tier the order is the deterministic hash shuffle (stationary
    batches inside each phase).  (doc_id, tier, shard, pos): a reader walks
    tiers descending, shards in any order, pos ascending.

    Scale: quality_tiers' bounded-histogram tier map (no global sort) +
    global_shuffle's hash sharding; the only per-doc ordering is a window
    per (tier, shard) — n_tiers x n_shards independent sorts of
    corpus/(tiers*shards) rows each."""
    from pdf_parser_spark.operators.textstats import quality_score

    tiers = quality_tiers(
        quality_score(documents).select("doc_id", "quality"), n_tiers
    ).select("doc_id", "tier")
    h = portable_hash32(
        F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))
    )
    keyed = (
        documents.select("doc_id")
        .join(tiers, "doc_id")
        .withColumn("h", h)
        .withColumn("shard", F.pmod(F.col("h"), F.lit(n_shards)).cast("long"))
    )
    w = Window.partitionBy("tier", "shard").orderBy("h", "doc_id")
    return (
        keyed.select(
            "doc_id", "tier", "shard",
            (F.row_number().over(w) - 1).cast("long").alias("pos"),
        )
        .orderBy("doc_id")
    )


# --- license tagging (the governance column every corpus release carries) ----

# detection order matters: the MORE RESTRICTIVE tag must win when both
# strings appear (cc-by-sa contains 'creativecommons.org/licenses/by-sa';
# a bare '/by/' link is plain cc-by)
LICENSE_MOD_SA = 9    # doc_id % 9 == 0 -> CC BY-SA footer
LICENSE_MOD_BY = 7    # doc_id % 7 == 0 -> CC BY footer
LICENSE_MOD_PD = 11   # doc_id % 11 == 0 -> public-domain dedication
LICENSE_MOD_ARR = 5   # doc_id % 5 == 0 -> all-rights-reserved notice


def with_license_lines(documents: DataFrame) -> DataFrame:
    """Add a ``text_lic`` column: the doc plus deterministic license
    footers on coprime doc_id moduli (several can co-occur — exactly the
    ambiguity the tagger's precedence must resolve).  Pure function of
    (doc_id, text), so the oracle re-derives the identical text."""
    did = F.col("doc_id")
    lines = F.array(
        F.col("text"),
        F.when(did % LICENSE_MOD_SA == 0, F.lit(
            "Licensed under creativecommons.org/licenses/by-sa/4.0/"
        )).otherwise(F.lit("")),
        F.when(did % LICENSE_MOD_BY == 0, F.lit(
            "Licensed under creativecommons.org/licenses/by/4.0/"
        )).otherwise(F.lit("")),
        F.when(did % LICENSE_MOD_PD == 0, F.lit(
            "This work is dedicated to the public domain (CC0)."
        )).otherwise(F.lit("")),
        F.when(did % LICENSE_MOD_ARR == 0, F.lit(
            "All rights reserved."
        )).otherwise(F.lit("")),
    )
    return documents.withColumn(
        "text_lic", F.concat_ws("\n", F.filter(lines, lambda x: x != ""))
    )


def license_tags(df: DataFrame, text_col: str = "text_lic") -> DataFrame:
    """Per-doc license tag by substring battery with explicit precedence —
    the rule a corpus datasheet needs stated, not implied: the most
    RESTRICTIVE detected tag wins (all-rights-reserved > cc-by-sa > cc-by >
    public-domain > none), because shipping a doc under a laxer tag than
    any notice on the page is the expensive mistake.  (doc_id, license).

    Scale: four JVM `contains` predicates in one scan projection — no
    regex backtracking, no Python, no shuffle."""
    t = F.col(text_col)
    lic = (
        F.when(t.contains("All rights reserved"), F.lit("all-rights-reserved"))
        .when(t.contains("creativecommons.org/licenses/by-sa"),
              F.lit("cc-by-sa"))
        .when(t.contains("creativecommons.org/licenses/by"), F.lit("cc-by"))
        .when(t.contains("public domain"), F.lit("public-domain"))
        .otherwise(F.lit("none"))
    )
    return df.select("doc_id", lic.alias("license")).orderBy("doc_id")


def license_rollup(documents: DataFrame) -> DataFrame:
    """Corpus license datasheet: per tag, doc count and exact token share
    in integer bp — the table a release's legal review reads first.
    (license, n_docs, n_tokens, token_share_bp)."""
    tagged = license_tags(with_license_lines(documents))
    toks = documents.select(
        "doc_id", F.size(words(F.col("text"))).cast("long").alias("n_tokens")
    )
    per = (
        tagged.join(toks, "doc_id")
        .groupBy("license")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    total = per.agg(F.sum("n_tokens").alias("tot")).select("tot")
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "license", "n_docs", "n_tokens",
            F.expr("(10000 * n_tokens) div tot").cast("long")
            .alias("token_share_bp"),
        )
        .orderBy("license")
    )


# --- epoch-repeat planning (how many times each source repeats under a
# budget, and whether that exceeds the healthy-repetition regime) -------------

EPOCH_BUDGET_TOKENS = 30_000  # sf-sized; production: the training budget
EPOCH_MAX_HEALTHY_BP = 40_000  # ~4 epochs: past this, repeated data's value
                               # decays rapidly (Muennighoff et al. 2023,
                               # 'Scaling Data-Constrained LMs', fig. 1)


def epoch_plan(
    documents: DataFrame,
    weights: dict[str, int] | None = None,
    budget_tokens: int = EPOCH_BUDGET_TOKENS,
) -> DataFrame:
    """The repeat-budget audit run BEFORE mixture_resample commits to a
    mixture: per source, how many epochs the budget implies and whether
    that crosses the ~4-epoch healthy-repetition bound.  Shares
    mixture_resample's exact epoch arithmetic (e_bp = budget * weight_bp
    div src_tokens) so the plan and the resampler can never disagree.

    (source, weight_bp, src_tokens, target_tokens, epochs_bp, full_epochs,
    exceeds_healthy) — all exact integers; epochs_bp is basis points of an
    epoch (14999 = 1.4999 epochs).

    Scale: one map-side-combined groupBy to the #sources dim; everything
    after is dim-sized arithmetic."""
    weights = MIXTURE_WEIGHTS if weights is None else weights
    dim = documents.sparkSession.createDataFrame(
        sorted(weights.items()), "source string, weight_bp long"
    )
    tot = (
        documents.select(
            "source", F.size(words(F.col("text"))).cast("long").alias("n"),
        )
        .join(F.broadcast(dim), "source")
        .groupBy("source", "weight_bp")
        .agg(F.sum("n").cast("long").alias("src_tokens"))
    )
    return (
        tot.withColumn(
            "target_tokens",
            F.expr(f"({budget_tokens} * weight_bp) div 10000").cast("long"),
        )
        .withColumn(
            "epochs_bp",
            F.expr(f"({budget_tokens} * weight_bp) div src_tokens")
            .cast("long"),
        )
        .select(
            "source", "weight_bp", "src_tokens", "target_tokens",
            "epochs_bp",
            F.expr("epochs_bp div 10000").cast("long").alias("full_epochs"),
            (F.col("epochs_bp") > EPOCH_MAX_HEALTHY_BP)
            .alias("exceeds_healthy"),
        )
        .orderBy("source")
    )


def contamination_report(
    documents: DataFrame, n: int = 3, threshold_bp: int = FUZZY_DECON_BP
) -> DataFrame:
    """Eval-integrity report: per benchmark item, how many OTHER corpus
    documents hit it EXACTLY (share any snippet n-gram — the high-recall,
    false-positive-prone rule) vs FUZZILY (near-copy Jaccard — the
    high-precision rule).  A large exact count with a zero fuzzy count is
    the idiom-collision signature; a nonzero fuzzy count is a real leak.
    (bench_id, n_exact_docs, n_fuzzy_docs), zero-filled over all items.

    Scale: the exact side broadcasts the (tiny) snippet shingle set; the
    fuzzy side is decontaminate_fuzzy's banded plan; both roll up to the
    benchmark dim."""
    bench = documents.where(
        F.col("doc_id") % BENCH_MOD == 0
    ).select(F.col("doc_id").alias("bench_id"), "text")
    snippet = F.concat_ws(" ", F.slice(words(F.col("text")), 1, 8))
    bsh = (
        bench.select(
            "bench_id",
            F.explode(
                F.array_distinct(word_shingles(snippet, n))
            ).alias("s"),
        ).distinct()
    )
    dsh = documents.select(
        "doc_id",
        F.explode(F.array_distinct(word_shingles(F.col("text"), n)))
        .alias("s"),
    ).distinct()
    ex = (
        dsh.join(F.broadcast(bsh), "s")
        .where(F.col("doc_id") != F.col("bench_id"))
        .groupBy("bench_id")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_exact_docs"))
    )
    fz = (
        decontaminate_fuzzy(documents, bench, n, threshold_bp)
        .where(F.col("doc_id") != F.col("bench_id"))
        .groupBy("bench_id")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_fuzzy_docs"))
    )
    return (
        bench.select("bench_id")
        .join(ex, "bench_id", "left")
        .join(fz, "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce(F.col("n_exact_docs"), F.lit(0)).cast("long")
            .alias("n_exact_docs"),
            F.coalesce(F.col("n_fuzzy_docs"), F.lit(0)).cast("long")
            .alias("n_fuzzy_docs"),
        )
        .orderBy("bench_id")
    )


# --- deterministic train/holdout split ---------------------------------------

HOLDOUT_K = 5          # docs held out per source (fixed SIZE, not a rate)
HOLDOUT_SEED = "hold"  # membership is a pure (seed, doc_id) hash function


def holdout_split(
    documents: DataFrame, k: int = HOLDOUT_K, seed: str = HOLDOUT_SEED
) -> DataFrame:
    """Fixed-size per-source eval holdout — the split every pipeline cuts
    before training so in-domain eval has EXACTLY k docs per source
    (stratified_sample is a rate and drifts with corpus size; an eval set
    must not).  A doc is held out iff its (seed, doc_id) hash ranks among
    the k smallest in its source (doc_id breaks hash ties).
    (doc_id, source, split) over every doc, split in {'train','holdout'}.

    Scale: one window per source ordered by the hash — the deterministic
    reservoir: membership never depends on arrival order or cluster size,
    and re-running on a grown corpus moves as few docs as possible (only
    hash-rank displacement)."""
    h = portable_hash32(
        F.concat(F.lit(seed + ":"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        documents.select("doc_id", "source")
        .withColumn("h", h)
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id", "source",
            F.when(F.col("rk") <= k, F.lit("holdout"))
            .otherwise(F.lit("train")).alias("split"),
        )
        .orderBy("doc_id")
    )


PACK_LEN_GRID = (16, 32, 64, 128)  # candidate SEQ_LENs swept by the lenscan


def packing_lenscan(
    documents: DataFrame,
    seed: str = SHUFFLE_SEED,
    n_shards: int = SHUFFLE_SHARDS,
    grid: tuple[int, ...] = PACK_LEN_GRID,
) -> DataFrame:
    """Corpus-level packing cost at every candidate sequence length in ONE
    pass — the table a training configuration review reads before fixing
    the model's context length fields: concat-and-split packing trades
    tail waste (the only padding it pays, < seq_len per shard, so its
    share FALLS as seq_len grows... until shards are few) against
    boundary-split documents (the cross-document attention contamination,
    which RISES with seq_len).  The sweep prices both sides of that trade
    on the real corpus instead of a rule of thumb.

    One row per candidate L: (seq_len, n_docs, total_toks, n_seqs,
    tail_waste_toks, waste_bp, n_split_docs, split_docs_bp) — exact
    BIGINT arithmetic, waste_bp over the padded stream n_seqs * L.

    The key fact making this one pass: a document's shard, shuffle offset
    and token cost are L-INDEPENDENT (_pack_base's window never mentions
    seq_len), so every candidate L prices against the same offsets.
    Scale: _pack_base's one window per shard (already paid by the
    shuffle), then (a) per-doc split flags via an in-scan explode bounded
    by |grid| rows per doc and one groupBy to the L dim, and (b) shard
    totals via one n_shards-row groupBy crossed with the |grid|-row dim
    for the ceil arithmetic — nothing corpus-sized shuffles twice."""
    t = _pack_base(documents, seed, n_shards)
    ldim = F.array(*[F.lit(int(x)) for x in grid])
    splits = (
        t.select(
            "off", "n_tok", F.explode(ldim).alias("sl"),
        )
        .select("off", "n_tok", F.col("sl").cast("long").alias("seq_len"))
        .groupBy("seq_len")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(
                (F.expr("off div seq_len")
                 != F.expr("(off + n_tok - 1) div seq_len")).cast("long")
            ).cast("long").alias("n_split_docs"),
        )
    )
    shard_tot = t.groupBy("shard").agg(
        F.sum("n_tok").cast("long").alias("total")
    )
    waste = (
        shard_tot.select("total", F.explode(ldim).alias("sl"))
        .select("total", F.col("sl").cast("long").alias("seq_len"))
        .select(
            "seq_len", "total",
            F.expr("(total + seq_len - 1) div seq_len").alias("ns"),
        )
        .groupBy("seq_len")
        .agg(
            F.sum("total").cast("long").alias("total_toks"),
            F.sum("ns").cast("long").alias("n_seqs"),
            F.sum(F.expr("ns * seq_len - total")).cast("long")
            .alias("tail_waste_toks"),
        )
    )
    return (
        waste.join(splits, "seq_len")
        .select(
            "seq_len", "n_docs", "total_toks", "n_seqs", "tail_waste_toks",
            F.expr("(10000 * tail_waste_toks) div (n_seqs * seq_len)")
            .cast("long").alias("waste_bp"),
            "n_split_docs",
            F.expr("(10000 * n_split_docs) div n_docs")
            .cast("long").alias("split_docs_bp"),
        )
        .orderBy("seq_len")
    )


TEMP_ALPHA_GRID_BP = (2500, 5000, 7500, 10000)  # alpha = 0.25/0.5/0.75/1.0


def temperature_mix(documents: DataFrame) -> DataFrame:
    """Temperature-smoothed source sampling weights at every alpha in the
    standard grid — the mT5/XLM-R multilingual rule (Xue et al. 2021 §3.1;
    Conneau et al. 2020 §3): sample source i with p_i proportional to
    c_i^alpha, so alpha=1 reproduces raw token shares (big sources drown
    small ones) and alpha->0 flattens toward uniform (small sources
    over-repeat).  The sweep prints the whole trade so the mixture review
    picks alpha from the table, not folklore.

    Per (alpha_bp, source): n_tokens, raw_share_bp (exact), temp_share_bp
    (the smoothed weight), boost_bp = 10000 * temp/raw — the implied
    up/down-sampling factor mixture_resample would apply (>10000 means
    the source is boosted above its natural share).

    Cross-engine exactness without pow(): every alpha in the grid is
    composed from sqrt and multiply only — c^0.25 = sqrt(sqrt(c)),
    c^0.5 = sqrt(c), c^0.75 = sqrt(c)*sqrt(sqrt(c)) — and IEEE-754 sqrt
    and multiply are deterministic bit-identical operations on both
    engines (pow is not so guaranteed), so floor(1000 * c^alpha) is the
    same BIGINT everywhere and all shares are integer arithmetic on top.

    Scale: one map-side-combined groupBy to the #sources dim; the alpha
    explode, per-alpha sums and share divisions all run on dim-sized
    frames (#sources x |grid| rows)."""
    cnt = documents.groupBy("source").agg(
        F.sum(F.size(words(F.col("text")))).cast("long").alias("n_tokens")
    )
    tot = cnt.agg(F.sum("n_tokens").cast("long").alias("tot_tokens"))
    g = (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "source", "n_tokens", "tot_tokens",
            F.explode(F.array(*[F.lit(int(a)) for a in TEMP_ALPHA_GRID_BP]))
            .alias("ab"),
        )
        .select(
            "source", "n_tokens", "tot_tokens",
            F.col("ab").cast("long").alias("alpha_bp"),
        )
        .withColumn(
            "s_milli",
            F.expr(
                "floor(1000 * (CASE alpha_bp"
                " WHEN 2500 THEN sqrt(sqrt(cast(n_tokens AS double)))"
                " WHEN 5000 THEN sqrt(cast(n_tokens AS double))"
                " WHEN 7500 THEN sqrt(cast(n_tokens AS double))"
                "   * sqrt(sqrt(cast(n_tokens AS double)))"
                " ELSE cast(n_tokens AS double) END))"
            ).cast("long"),
        )
    )
    sums = g.groupBy("alpha_bp").agg(
        F.sum("s_milli").cast("long").alias("s_tot")
    )
    return (
        g.join(F.broadcast(sums), "alpha_bp")
        .select(
            "alpha_bp", "source", "n_tokens",
            F.expr("CASE WHEN tot_tokens = 0 THEN 0"
                   " ELSE (10000 * n_tokens) div tot_tokens END")
            .cast("long").alias("raw_share_bp"),
            F.expr("CASE WHEN s_tot = 0 THEN 0"
                   " ELSE (10000 * s_milli) div s_tot END")
            .cast("long").alias("temp_share_bp"),
        )
        .withColumn(
            "boost_bp",
            F.expr("CASE WHEN raw_share_bp = 0 THEN 0"
                   " ELSE (10000 * temp_share_bp) div raw_share_bp END")
            .cast("long"),
        )
        .orderBy("alpha_bp", "source")
    )


# ---------------------------------------------------------------------------
# Shard-count rebalancing audit (modulo vs rendezvous hashing)
# ---------------------------------------------------------------------------

SHARD_FROM = 8   # writer fleet size before the grow
SHARD_TO = 10    # and after — defaults shared with the oracle twin


def shard_rebalance(
    documents: DataFrame, n_from: int = SHARD_FROM, n_to: int = SHARD_TO
) -> DataFrame:
    """How many keys MOVE when the shard count grows n_from -> n_to, under
    the two classic placement schemes — the audit a sharded corpus store
    (or a 1000-executor bucketed writer) runs before resizing:

    - ``mod``: shard = hash(key) % n — the naive scheme; a resize remaps
      an expected (1 - 1/lcm-ish) ~= 90% of keys, so every downstream
      cache, bucket join, and co-located read loses locality at once;
    - ``hrw``: rendezvous / highest-random-weight hashing (Thaler &
      Ravishankar 1996, the stateless cousin of consistent hashing):
      shard = argmax_i hash(key, i).  Growing n_from -> n_to moves
      EXACTLY the keys whose new shards win the argmax — expected
      1 - n_from/n_to (20% for 8 -> 10), the theoretical minimum for a
      balanced stateless scheme.

    One row per scheme: (scheme, n_from, n_to, n_keys, n_moved,
    moved_bp).  Everything is exact integers over the portable md5 hash:
    the HRW argmax is an array_max over [weight, shard] structs — struct
    comparison is lexicographic in BOTH engines, so even a weight tie
    breaks identically (by shard id).  Scale: one narrow projection + one
    global aggregate; the per-key argmax is an n_to-wide JVM array
    expression (no explode, no shuffle, no Python) — at 10^12 keys this
    is a single map-side pass."""
    key = F.col("doc_id").cast("string")

    def hrw(n: int) -> Column:
        return F.array_max(F.array(*[
            F.struct(
                portable_hash32(F.concat(key, F.lit(f":{i}"))).alias("w"),
                F.lit(i).cast("long").alias("s"),
            )
            for i in range(n)
        ]))["s"]

    hk = portable_hash32(key)
    marked = documents.select(
        (hk % n_from != hk % n_to).cast("long").alias("mod_moved"),
        (hrw(n_from) != hrw(n_to)).cast("long").alias("hrw_moved"),
    )
    agg = marked.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("mod_moved").cast("long").alias("mod_n"),
        F.sum("hrw_moved").cast("long").alias("hrw_n"),
    )
    return (
        agg.select(
            F.expr("stack(2, 'hrw', hrw_n, 'mod', mod_n)"
                   " as (scheme, n_moved)"),
            "n_keys",
        )
        .select(
            "scheme",
            F.lit(n_from).cast("long").alias("n_from"),
            F.lit(n_to).cast("long").alias("n_to"),
            "n_keys",
            F.col("n_moved").cast("long").alias("n_moved"),
            F.expr("n_moved * 10000 DIV n_keys").alias("moved_bp"),
        )
        .orderBy("scheme")
    )


def leakage_audit(
    documents: DataFrame, k: int = HOLDOUT_K, threshold: float = 0.5
) -> DataFrame:
    """(source, n_train, n_holdout, n_leaky_pairs, n_leaky_holdout_docs)
    — near-duplicate LEAKAGE across the train/holdout boundary, the
    classic eval bug (Lee et al. 2022 found wide benchmark/train overlap
    in deployed corpora; a holdout doc whose near-copy sits in train
    measures memorization, not generalization): every banded+verified
    near-dup pair (the ngram_jaccard_pairs default path) with exactly
    one side held out is a leak, attributed to the HOLDOUT doc's source
    and zero-filled over the source dim so a clean source is visibly
    clean.

    The composition reuses holdout_split and the shared LSH band layer
    verbatim — no new similarity machinery, which is the point: the
    leakage question is a JOIN between two already-verified faces.
    Scale: the pair stream is band-bounded, the split is a per-source
    window, the audit adds two keyed joins and one rollup."""
    from pdf_parser_spark.operators.dedup import ngram_jaccard_pairs

    split = holdout_split(documents, k)
    pairs = ngram_jaccard_pairs(documents, threshold=threshold)
    sa = split.select(F.col("doc_id").alias("doc_a"),
                      F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"),
                      F.col("source").alias("source_b"),
                      F.col("split").alias("split_b"))
    crossing = (
        pairs.join(sa, "doc_a").join(sb, "doc_b")
        .where(F.col("split_a") != F.col("split_b"))
        .select(
            F.when(F.col("split_a") == "holdout", F.col("doc_a"))
            .otherwise(F.col("doc_b")).alias("holdout_doc"),
        )
        .join(split.select(F.col("doc_id").alias("holdout_doc"),
                           "source"), "holdout_doc")
    )
    leaks = crossing.groupBy("source").agg(
        F.count("*").cast("long").alias("n_leaky_pairs"),
        F.countDistinct("holdout_doc").cast("long")
        .alias("n_leaky_holdout_docs"),
    )
    sizes = split.groupBy("source").agg(
        F.sum((F.col("split") == "train").cast("long")).cast("long")
        .alias("n_train"),
        F.sum((F.col("split") == "holdout").cast("long")).cast("long")
        .alias("n_holdout"),
    )
    return (
        sizes.join(leaks, "source", "left")
        .select(
            "source", "n_train", "n_holdout",
            F.coalesce("n_leaky_pairs", F.lit(0)).cast("long")
            .alias("n_leaky_pairs"),
            F.coalesce("n_leaky_holdout_docs", F.lit(0)).cast("long")
            .alias("n_leaky_holdout_docs"),
        )
        .orderBy("source")
    )


DUP_COPY_MOD = 17
DUP_COPY_OFFSET = 5_000_000


def dup_by_quality_tier(
    documents: DataFrame,
    copy_mod: int = DUP_COPY_MOD,
    copy_offset: int = DUP_COPY_OFFSET,
) -> DataFrame:
    """(tier, n_docs, n_dups, dup_bp) — are duplicates CONCENTRATED in
    low-quality content?  The question decides dedup-vs-filter ordering
    in a pipeline recipe: if dups cluster in the junk tiers, the quality
    gate already removes most of them and dedup can run on the survivors
    (cheaper); if they spread evenly, dedup must run first or the gate's
    corpus statistics are double-counted by every mirror.

    Demo fleet: recrawl copies injected for every %copy_mod doc (the
    u_table_dedup_inplace injection), exact-fingerprint groups computed
    over the AUGMENTED corpus, and each BASE doc flagged if its content
    participates in any dup group; tiers are the shared value-quantile
    map (quality_tiers), zero-filled so a dup-free tier is visibly
    clean.  Copies share their original's text, hence its quality and
    tier — which is exactly why the question is well-posed per tier.

    Scale: one fingerprint groupBy over the augmented stream, one keyed
    join back, the bounded tier-map broadcast, one tier rollup."""
    from pdf_parser_spark.operators.textstats import quality_score

    d = F.col("doc_id")
    copies = documents.where(d % copy_mod == 0).withColumn(
        "doc_id", d + copy_offset
    )
    aug = documents.unionByName(copies)
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    dup_fps = (
        aug.select(F.md5(norm).alias("fp"))
        .groupBy("fp").agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .select("fp")
    )
    flagged = (
        documents.select("doc_id", F.md5(norm).alias("fp"))
        .join(dup_fps.withColumn("is_dup", F.lit(True)), "fp", "left")
        .select("doc_id", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )
    tiers = quality_tiers(
        quality_score(documents).select("doc_id", "quality")
    ).select("doc_id", "tier")
    per_tier = (
        tiers.join(flagged, "doc_id")
        .groupBy("tier")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("is_dup").cast("long")).cast("long")
            .alias("n_dups"),
        )
        .select(
            "tier", "n_docs", "n_dups",
            F.expr("10000 * n_dups div n_docs").cast("long")
            .alias("dup_bp"),
        )
    )
    return per_tier.orderBy("tier")
