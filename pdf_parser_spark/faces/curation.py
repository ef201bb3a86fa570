"""Corpus-curation faces: the training-data build steps (decontamination,
PII scrub, packing, sharding, mixture sampling, licensing, line dedup,
text normalization) and their release rollups."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.faces import Face
from pdf_parser_spark.faces.shared import (
    EN,
    H32,
    SHINGLES,
    SNIP_SHINGLES,
    TOKS,
    bands_cte,
    corpus_chain_for,
    gate_cte_for,
    lines_sql,
    quality_sql,
    rate_cases,
    read_docs,
    word_hits,
)
from pdf_parser_spark.operators import curation, textstats


# fuzzy-decontamination pair stream (appended after bands_cte): banded
# candidates vs the doc_id%37 bench members, exact-Jaccard verified —
# ONE fragment shared by c_decontaminate_fuzzy and
# c_contamination_report so the pair rule cannot drift
_fuzzy_ctes = f"""
            , fcand AS (
                SELECT a.doc_id AS doc_id, b.doc_id AS bench_id,
                       count(*) AS n_shared_bands
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                WHERE b.doc_id % {curation.BENCH_MOD} = 0
                GROUP BY 1, 2
            ), fuzzy AS (
                SELECT c.doc_id, c.bench_id,
                       CAST(c.n_shared_bands AS BIGINT) AS n_shared_bands,
                       CAST((10000 * len(list_intersect(sa.shingles,
                                                        sb.shingles)))
                            // len(list_distinct(list_concat(sa.shingles,
                                                             sb.shingles)))
                            AS BIGINT) AS jaccard_bp
                FROM fcand c JOIN sh sa ON sa.doc_id = c.doc_id
                             JOIN sh sb ON sb.doc_id = c.bench_id
                WHERE (10000 * len(list_intersect(sa.shingles, sb.shingles)))
                      // len(list_distinct(list_concat(sa.shingles,
                                                       sb.shingles)))
                      >= {curation.FUZZY_DECON_BP}
            )"""

# quality-tier map over the bounded 4dp value histogram — ONE fragment
# shared by c_quality_tiers and c_curriculum_order so the tier rule
# cannot drift between the standalone face and the composition
_tiers_ctes = f"""scored AS (
                SELECT doc_id,
                       round(0.5 * ({word_hits(EN)} / 10.0)
                           + 0.3 * (CASE WHEN length(regexp_replace(text, '\\s+', '', 'g')) / len({TOKS}) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END)
                           + 0.2 * least(len({TOKS}) / 100.0, 1.0), 4) AS quality
                FROM documents
            ), hist AS (
                SELECT quality, count(*) AS cnt FROM scored GROUP BY quality
            ), cum AS (
                SELECT quality, cnt,
                       sum(cnt) OVER (ORDER BY quality DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - cnt AS cum_before,
                       sum(cnt) OVER () AS total
                FROM hist
            ), tiers AS (
                SELECT quality,
                       CAST(least({curation.N_TIERS} - 1,
                            ({curation.N_TIERS} * cum_before) // total) AS BIGINT) AS tier
                FROM cum
            )"""


def _pack_seq_sql_for(tbl: str, lead: str = "WITH") -> str:
    """The pack_sequences twin (shuffle-order offsets + concat-and-split
        explode) over any docs-shaped CTE/table — ONE definition shared by
        c_pack_sequences and the release-manifest composition so the packing
        twin cannot drift between the two faces.  `//` (floor) here vs `div`
        (trunc) in Spark agree because every operand is non-negative."""
    return f"""{lead} pk AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('{curation.SHUFFLE_SEED}:' || doc_id),
                                            1, 8)) AS BIGINT) AS h,
                       CAST(len({TOKS}) + 1 AS BIGINT) AS n_tok
                FROM {tbl} WHERE trim(text) <> ''
            ), psh AS (
                SELECT doc_id, h, n_tok,
                       ((h % {curation.SHUFFLE_SHARDS}) + {curation.SHUFFLE_SHARDS})
                       % {curation.SHUFFLE_SHARDS} AS shard
                FROM pk
            ), po AS (
                SELECT doc_id, shard, n_tok,
                       sum(n_tok) OVER (PARTITION BY shard
                                        ORDER BY h, doc_id) - n_tok AS off
                FROM psh
            ), pe AS (
                SELECT doc_id, shard, n_tok, off,
                       unnest(range(CAST(off // {curation.SEQ_LEN} AS BIGINT),
                                    CAST((off + n_tok - 1) // {curation.SEQ_LEN} + 1
                                         AS BIGINT))) AS seq_id
                FROM po
            )
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(seq_id AS BIGINT) AS seq_id,
                   CAST(off + greatest(0, seq_id * {curation.SEQ_LEN} - off)
                        - seq_id * {curation.SEQ_LEN} AS BIGINT) AS seq_slot_start,
                   doc_id,
                   CAST(greatest(0, seq_id * {curation.SEQ_LEN} - off) AS BIGINT)
                       AS doc_tok_start,
                   CAST(least(n_tok, (seq_id + 1) * {curation.SEQ_LEN} - off)
                        AS BIGINT) AS doc_tok_end,
                   CAST(least(n_tok, (seq_id + 1) * {curation.SEQ_LEN} - off)
                        - greatest(0, seq_id * {curation.SEQ_LEN} - off) AS BIGINT)
                       AS n_toks
            FROM pe ORDER BY doc_id, seq_id"""


# benchmark = first-8-word snippets of doc_id%37==0 docs; a doc is
# contaminated iff it shares a distinct word-3-gram with any snippet
_DECONTAMINATE_SQL = f"""
            WITH bench AS (
                SELECT DISTINCT unnest(list_distinct({SNIP_SHINGLES})) AS s
                FROM documents WHERE doc_id % {curation.BENCH_MOD} = 0
            ), docsh AS (
                SELECT doc_id, unnest(list_distinct({SHINGLES})) AS s FROM documents
            ), hits AS (
                SELECT doc_id, count(*) AS n_hits
                FROM docsh JOIN bench USING (s) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(len(list_distinct({SHINGLES})) AS BIGINT) AS n_shingles,
                   CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            ORDER BY d.doc_id
        """


FACES = [
    # the ONE-row release headline above the datasheet: composes the
    # live gate + quality operators (corpus_build doctrine)
    # release headline: the gate CTE, the quality fragment, and the
    # fingerprint/token counts composed under ONE hash — drift in any
    # summarized operator fails the headline
    Face("c_release_headline",
         lambda s, d: curation.release_headline(read_docs(s, d)),
         f"""
            WITH {gate_cte_for("documents")},
            q AS (
                SELECT doc_id,
                       CAST(round({quality_sql()} * 10000) AS BIGINT) AS q_bp
                FROM documents
            ),
            base AS (
                SELECT d.doc_id, d.lang, md5(d.text) AS fp,
                       CAST(len({TOKS}) AS BIGINT) AS n_toks,
                       (g.reasons = '') AS passed, q.q_bp
                FROM documents d
                JOIN gated g ON g.doc_id = d.doc_id
                JOIN q ON q.doc_id = d.doc_id
            ),
            agg AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_toks) AS BIGINT) AS n_tokens,
                       CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_texts,
                       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                       CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
                       CAST(sum(q_bp) AS BIGINT) AS q_sum
                FROM base
            )
            SELECT n_docs, n_tokens, n_distinct_texts,
                   CAST((10000 * (n_docs - n_distinct_texts)) // n_docs AS BIGINT) AS dup_bp,
                   CAST((10000 * n_pass) // n_docs AS BIGINT) AS gate_pass_bp,
                   n_langs,
                   CAST(q_sum // n_docs AS BIGINT) AS mean_quality_bp
            FROM agg
        """),
    # curriculum tiers: exact decile binning via the 4dp value histogram
    # (no global-sort ntile window)
    # dup-vs-quality concentration: injected recrawl copies, exact
    # groups over the augmented stream, per-tier rates
    # exact decile tiers from the 4dp quality-value histogram: every
    # distinct value maps to ONE tier (value-quantile semantics), so no
    # global per-row sort exists in either engine
    # dup-by-tier: the shared tier map + the synthesis rule (a base
    # doc is dup iff it has an injected copy or a base fp twin)
    Face("c_dup_by_tier",
         lambda s, d: curation.dup_by_quality_tier(
             read_docs(s, d)
         ),
         f"""
            WITH {_tiers_ctes},
            fpb AS (
                SELECT doc_id,
                       md5(lower(regexp_replace(trim(text), '\s+', ' ',
                                                'g'))) AS fp
                FROM documents
            ), gcnt AS (
                SELECT fp, count(*) AS n FROM fpb GROUP BY fp
            ), flags AS (
                SELECT f.doc_id,
                       (f.doc_id % {curation.DUP_COPY_MOD} = 0 OR g.n > 1)
                           AS is_dup
                FROM fpb f JOIN gcnt g USING (fp)
            )
            SELECT t.tier, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN fl.is_dup THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dups,
                   CAST(10000 * sum(CASE WHEN fl.is_dup THEN 1 ELSE 0 END)
                        // count(*) AS BIGINT) AS dup_bp
            FROM scored sc JOIN tiers t USING (quality)
            JOIN flags fl ON fl.doc_id = sc.doc_id
            GROUP BY t.tier ORDER BY t.tier
        """),
    Face("c_quality_tiers",
         lambda s, d: curation.quality_tiers(
             textstats.quality_score(read_docs(s, d)).select("doc_id", "quality")
         ),
         f"""
            WITH {_tiers_ctes}
            SELECT s.doc_id, s.quality, t.tier
            FROM scored s JOIN tiers t USING (quality)
            ORDER BY s.doc_id
        """),
    Face("c_decontaminate",
         lambda s, d: curation.decontaminate(
             read_docs(s, d), curation.benchmark_snippets(read_docs(s, d))
         ),
         _DECONTAMINATE_SQL),
    # Bloom-prefiltered variant: broadcasts 10 bits/shingle instead of
    # the shingle strings, exact-verifies survivors — no false negatives
    # means it reproduces the exact answer and shares ITS oracle
    Face("c_decontaminate_bloom",
         lambda s, d: curation.decontaminate_bloom(
             read_docs(s, d), curation.benchmark_snippets(read_docs(s, d))
         ),
         _DECONTAMINATE_SQL),
    # fuzzy decontamination: MinHash-band candidates vs the benchmark
    # member documents (doc_id%37==0 stand-ins), exact-Jaccard verified
    # — catches the near-duplicate-of-a-benchmark-item case exact
    # n-gram matching misses
    # fuzzy decontamination: the SAME banded layer as d_minhash_lsh,
    # bench side = doc_id%37==0 members, exact-Jaccard verify in
    # integer bp (shared fragment: _fuzzy_ctes, also composed by
    # c_contamination_report)
    Face("c_decontaminate_fuzzy",
         lambda s, d: curation.decontaminate_fuzzy(
             read_docs(s, d),
             read_docs(s, d).where(F.col("doc_id") % curation.BENCH_MOD == 0)
             .select(F.col("doc_id").alias("bench_id"), "text"),
         ),
         bands_cte + _fuzzy_ctes + """
            SELECT doc_id, bench_id, n_shared_bands, jaccard_bp
            FROM fuzzy ORDER BY doc_id, bench_id
        """),
    # synthetic PII re-derived from doc_id, counts on the pre-redaction
    # text, clean_md5 pins the redacted bytes (email -> ip -> phone order)
    Face("c_pii_scrub",
         lambda s, d: curation.pii_scrub(
             curation.with_synthetic_pii(read_docs(s, d))
         ),
         """
            WITH pii AS (
                SELECT doc_id, text || CASE
                    WHEN doc_id % 4 = 0 THEN ' Contact user' || doc_id ||
                        '@example.com or admin' || doc_id || '@mail.example.org.'
                    WHEN doc_id % 4 = 1 THEN ' Origin server 10.' || (doc_id % 256)
                        || '.' || ((doc_id // 256) % 256) || '.' || (doc_id % 100 + 1)
                        || ' logged.'
                    WHEN doc_id % 4 = 2 THEN ' Call +1-555-' ||
                        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now.'
                    ELSE '' END AS text
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '""" + curation.EMAIL_RE + """')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '""" + curation.IP_RE + """')) AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(text, '""" + curation.PHONE_RE + """')) AS BIGINT) AS n_phones,
                   md5(regexp_replace(regexp_replace(regexp_replace(text,
                       '""" + curation.EMAIL_RE + """', '<EMAIL>', 'g'),
                       '""" + curation.IP_RE + """', '<IP>', 'g'),
                       '""" + curation.PHONE_RE + """', '<PHONE>', 'g')) AS clean_md5
            FROM pii ORDER BY doc_id
        """),
    # hash-deterministic per-language sampling (rates in bp of 10000)
    Face("c_stratified_sample",
         lambda s, d: curation.stratified_sample(read_docs(s, d)),
         f"""
            SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5('smpl:' || doc_id), 1, 8)) AS BIGINT)
                  % 10000 < CASE lang {rate_cases} ELSE -1 END
            ORDER BY doc_id
        """),
    # CCNet-style fluency proxy: unigram vocab (top-256 by count desc,
    # token asc) fitted on the doc_id%7==0 clean subset; per-doc integer
    # coverage + summed frequency ranks (no float log-probs — exact)
    Face("c_lm_coverage",
         lambda s, d: curation.lm_coverage(
             read_docs(s, d), curation.fit_vocab(read_docs(s, d))
         ),
         f"""
            WITH cl AS (
                SELECT unnest(list_transform({TOKS}, t -> lower(t))) AS token
                FROM documents WHERE doc_id % {curation.CLEAN_MOD} = 0
            ), vc AS (
                SELECT token, count(*) AS cnt FROM cl GROUP BY token
            ), vocab AS (
                SELECT token,
                       row_number() OVER (ORDER BY cnt DESC, token) AS rank
                FROM vc QUALIFY rank <= {curation.VOCAB_SIZE}
            ), ex AS (
                SELECT doc_id,
                       unnest(list_transform({TOKS}, t -> lower(t))) AS token
                FROM documents
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(count(v.rank) AS BIGINT) AS n_in_vocab,
                   CAST((count(v.rank) * 10000) // count(*) AS BIGINT) AS coverage_bp,
                   CAST(coalesce(sum(v.rank), 0) AS BIGINT) AS sum_rank
            FROM ex LEFT JOIN vocab v USING (token)
            GROUP BY doc_id ORDER BY doc_id
        """),
    Face("c_pack_shards", lambda s, d: curation.pack_shards(read_docs(s, d)),
         f"""
            WITH t AS (
                SELECT doc_id, source, CAST(len({TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            )
            SELECT doc_id, source, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id)
                               - n_tokens) / 500) AS BIGINT) AS shard_id
            FROM t ORDER BY doc_id
        """),
    # shard-count resize audit: modulo vs rendezvous (HRW) placement —
    # keys moved growing 8 -> 10 writers; HRW moves the stateless
    # minimum (~1 - 8/10), modulo reshuffles nearly everything
    # shard rebalance: the HRW argmax is a lexicographic list_max over
    # [weight, shard] pairs — the literal twin of the Spark struct
    # array_max, so even a weight tie breaks identically (by shard id)
    Face("c_shard_rebalance",
         lambda s, d: curation.shard_rebalance(
             read_docs(s, d)
         ),
         f"""
            WITH h AS (
                SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 8)) AS BIGINT) AS hk,
                       list_max(list_transform(range(0, {curation.SHARD_FROM}),
                           i -> [CAST(('0x' || substr(md5(
                                     CAST(doc_id AS VARCHAR) || ':' || i),
                                     1, 8)) AS BIGINT), i]))[2] AS hrw_a,
                       list_max(list_transform(range(0, {curation.SHARD_TO}),
                           i -> [CAST(('0x' || substr(md5(
                                     CAST(doc_id AS VARCHAR) || ':' || i),
                                     1, 8)) AS BIGINT), i]))[2] AS hrw_b
                FROM documents
            ), m AS (
                SELECT CAST(count(*) AS BIGINT) AS n_keys,
                       CAST(sum(CASE WHEN hk % {curation.SHARD_FROM}
                                     <> hk % {curation.SHARD_TO}
                                THEN 1 ELSE 0 END) AS BIGINT) AS mod_n,
                       CAST(sum(CASE WHEN hrw_a <> hrw_b
                                THEN 1 ELSE 0 END) AS BIGINT) AS hrw_n
                FROM h
            )
            SELECT scheme, CAST({curation.SHARD_FROM} AS BIGINT) AS n_from,
                   CAST({curation.SHARD_TO} AS BIGINT) AS n_to, n_keys,
                   CAST(n_moved AS BIGINT) AS n_moved,
                   CAST(n_moved * 10000 // n_keys AS BIGINT) AS moved_bp
            FROM (SELECT 'hrw' AS scheme, hrw_n AS n_moved, n_keys FROM m
                  UNION ALL SELECT 'mod', mod_n, n_keys FROM m)
            ORDER BY scheme
        """),
    # deterministic global training shuffle: md5(seed:doc_id) shard +
    # within-shard hash rank — no corpus-wide ORDER BY anywhere
    # sequential token-budget packing within each source
    # global shuffle: same md5 hash key, same (h, doc_id) rank in SQL
    Face("c_global_shuffle",
         lambda s, d: curation.global_shuffle(read_docs(s, d)),
         f"""
            WITH k AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('{curation.SHUFFLE_SEED}:' || doc_id),
                                            1, 8)) AS BIGINT) AS h
                FROM documents
            ), sh AS (
                SELECT doc_id, h,
                       ((h % {curation.SHUFFLE_SHARDS}) + {curation.SHUFFLE_SHARDS})
                       % {curation.SHUFFLE_SHARDS} AS shard
                FROM k
            )
            SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                   CAST(row_number() OVER (PARTITION BY shard
                        ORDER BY h ASC, doc_id ASC) - 1 AS BIGINT) AS pos
            FROM sh ORDER BY doc_id
        """),
    # concat-and-split sequence packing over the shuffle order: one
    # window per shard + in-stage arithmetic explode, no token text
    # concat-and-split packing: the shuffle's (shard, h, doc_id) order
    # + EOS-inclusive prefix sums (shared twin: _pack_seq_sql_for)
    Face("c_pack_sequences",
         lambda s, d: curation.pack_sequences(read_docs(s, d)),
         _pack_seq_sql_for("documents")),
    # per-shard packing datasheet: tail waste + boundary-split docs
    Face("c_packing_stats",
         lambda s, d: curation.packing_stats(read_docs(s, d)),
         f"""
            WITH k AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('{curation.SHUFFLE_SEED}:' || doc_id),
                                            1, 8)) AS BIGINT) AS h,
                       CAST(len({TOKS}) + 1 AS BIGINT) AS n_tok
                FROM documents WHERE trim(text) <> ''
            ), sh AS (
                SELECT doc_id, h, n_tok,
                       ((h % {curation.SHUFFLE_SHARDS}) + {curation.SHUFFLE_SHARDS})
                       % {curation.SHUFFLE_SHARDS} AS shard
                FROM k
            ), o AS (
                SELECT doc_id, shard, n_tok,
                       sum(n_tok) OVER (PARTITION BY shard
                                        ORDER BY h, doc_id) - n_tok AS off
                FROM sh
            ), g AS (
                SELECT shard, count(*) AS n_docs, sum(n_tok) AS total_toks,
                       sum(CASE WHEN off // {curation.SEQ_LEN}
                                <> (off + n_tok - 1) // {curation.SEQ_LEN}
                           THEN 1 ELSE 0 END) AS n_split_docs
                FROM o GROUP BY shard
            )
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(total_toks AS BIGINT) AS total_toks,
                   CAST((total_toks + {curation.SEQ_LEN - 1}) // {curation.SEQ_LEN}
                        AS BIGINT) AS n_seqs,
                   CAST(((total_toks + {curation.SEQ_LEN - 1}) // {curation.SEQ_LEN})
                        * {curation.SEQ_LEN} - total_toks AS BIGINT)
                       AS tail_waste_toks,
                   CAST((10000 * (((total_toks + {curation.SEQ_LEN - 1})
                                   // {curation.SEQ_LEN}) * {curation.SEQ_LEN}
                                  - total_toks))
                        // (((total_toks + {curation.SEQ_LEN - 1}) // {curation.SEQ_LEN})
                            * {curation.SEQ_LEN}) AS BIGINT) AS waste_bp,
                   CAST(n_split_docs AS BIGINT) AS n_split_docs
            FROM g ORDER BY shard
        """),
    # one-pass SEQ_LEN sweep: waste vs boundary-split trade priced at
    # every candidate length against the SAME L-independent offsets
    # SEQ_LEN sweep: the same h/shard/offset chain crossed with the
    # candidate-length dim; offsets are L-independent so one window
    # prices every candidate
    Face("c_pack_lenscan",
         lambda s, d: curation.packing_lenscan(read_docs(s, d)),
         f"""
            WITH k AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('{curation.SHUFFLE_SEED}:' || doc_id),
                                            1, 8)) AS BIGINT) AS h,
                       CAST(len({TOKS}) + 1 AS BIGINT) AS n_tok
                FROM documents WHERE trim(text) <> ''
            ), sh AS (
                SELECT doc_id, h, n_tok,
                       ((h % {curation.SHUFFLE_SHARDS}) + {curation.SHUFFLE_SHARDS})
                       % {curation.SHUFFLE_SHARDS} AS shard
                FROM k
            ), o AS (
                SELECT doc_id, shard, n_tok,
                       sum(n_tok) OVER (PARTITION BY shard
                                        ORDER BY h, doc_id) - n_tok AS off
                FROM sh
            ),
            grid AS (SELECT unnest([{", ".join(str(x) for x in
                                               curation.PACK_LEN_GRID)}])
                         AS seq_len),
            sp AS (
                SELECT g.seq_len, count(*) AS n_docs,
                       sum(CASE WHEN off // g.seq_len
                                <> (off + n_tok - 1) // g.seq_len
                           THEN 1 ELSE 0 END) AS n_split_docs
                FROM o, grid g GROUP BY g.seq_len
            ),
            st AS (SELECT shard, sum(n_tok) AS total FROM o GROUP BY shard),
            wa AS (
                SELECT g.seq_len, sum(total) AS total_toks,
                       sum((total + g.seq_len - 1) // g.seq_len) AS n_seqs,
                       sum(((total + g.seq_len - 1) // g.seq_len) * g.seq_len
                           - total) AS tail_waste_toks
                FROM st, grid g GROUP BY g.seq_len
            )
            SELECT CAST(wa.seq_len AS BIGINT) AS seq_len,
                   CAST(sp.n_docs AS BIGINT) AS n_docs,
                   CAST(wa.total_toks AS BIGINT) AS total_toks,
                   CAST(wa.n_seqs AS BIGINT) AS n_seqs,
                   CAST(wa.tail_waste_toks AS BIGINT) AS tail_waste_toks,
                   CAST((10000 * wa.tail_waste_toks)
                        // (wa.n_seqs * wa.seq_len) AS BIGINT) AS waste_bp,
                   CAST(sp.n_split_docs AS BIGINT) AS n_split_docs,
                   CAST((10000 * sp.n_split_docs) // sp.n_docs AS BIGINT)
                       AS split_docs_bp
            FROM wa JOIN sp ON sp.seq_len = wa.seq_len
            ORDER BY seq_len
        """),
    # the curation-to-trainer lifecycle under ONE hash: corpus_build
    # survivors -> shuffle-ordered concat-and-split packing manifest
    # the release composition: corpus_build's survivor chain feeding
    # the packing twin — gate, dedup keeper, decontamination, sampling,
    # shuffle order and split arithmetic must ALL agree for one hash
    Face("c_release_manifest",
         lambda s, d: curation.release_manifest(
             read_docs(s, d)
         ),
         f"""
            WITH {corpus_chain_for("documents")},
            surv AS (SELECT d.* FROM documents d JOIN t USING (doc_id))
            {_pack_seq_sql_for("surv", lead=",")}
        """),
    # token-budget selection: best-quality-first fill WITHOUT a global
    # sort (bucket dim window + per-bucket hash-ordered prefix)
    # token-budget selection: quality quantized to integer bp buckets,
    # strictly-better prefix over the bucket dim, within-bucket
    # (md5, doc_id) hash order — kept iff the doc STARTS before the
    # budget line (the crossing doc is kept; stated overshoot)
    Face("c_budget_select",
         lambda s, d: curation.budget_select(read_docs(s, d)),
         f"""
            WITH q AS (
                SELECT doc_id,
                       CAST(round(({quality_sql()}) * 10000) AS BIGINT)
                           AS quality_bp,
                       CAST(len({TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), b AS (
                SELECT quality_bp, sum(n_tokens) AS bucket_tokens
                FROM q GROUP BY quality_bp
            ), bet AS (
                SELECT quality_bp,
                       sum(bucket_tokens) OVER (ORDER BY quality_bp DESC)
                       - bucket_tokens AS better_tokens
                FROM b
            ), r AS (
                SELECT doc_id, quality_bp, n_tokens,
                       CAST(('0x' || substr(md5('{curation.BUDGET_SEED}:' || doc_id),
                                            1, 8)) AS BIGINT) AS h
                FROM q
            ), wp AS (
                SELECT doc_id, quality_bp, n_tokens,
                       sum(n_tokens) OVER (PARTITION BY quality_bp
                                           ORDER BY h, doc_id)
                       - n_tokens AS within_prefix
                FROM r
            )
            SELECT wp.doc_id, wp.quality_bp, wp.n_tokens,
                   bet.better_tokens + wp.within_prefix
                   < {curation.BUDGET_TOKENS} AS kept
            FROM wp JOIN bet USING (quality_bp)
            ORDER BY wp.doc_id
        """),
    # curriculum/annealing read order: tiers worst-first, hash shuffle
    # within tier (n_tiers x n_shards independent window sorts)
    # curriculum/annealing read order: the tier map (shared fragment)
    # composed with the shuffle hash — pos is per (tier, shard)
    Face("c_curriculum_order",
         lambda s, d: curation.curriculum_order(
             read_docs(s, d)
         ),
         f"""
            WITH {_tiers_ctes},
            dt AS (
                SELECT s.doc_id, t.tier,
                       CAST(('0x' || substr(md5('{curation.SHUFFLE_SEED}:'
                                                || s.doc_id), 1, 8))
                            AS BIGINT) AS h
                FROM scored s JOIN tiers t USING (quality)
            ), dsh AS (
                SELECT doc_id, tier, h,
                       ((h % {curation.SHUFFLE_SHARDS}) + {curation.SHUFFLE_SHARDS})
                       % {curation.SHUFFLE_SHARDS} AS shard
                FROM dt
            )
            SELECT doc_id, tier, CAST(shard AS BIGINT) AS shard,
                   CAST(row_number() OVER (PARTITION BY tier, shard
                        ORDER BY h, doc_id) - 1 AS BIGINT) AS pos
            FROM dsh ORDER BY doc_id
        """),
    # license tagging: substring battery with most-restrictive-wins
    # precedence over injected co-occurring footers
    # license tagging: footers re-derived from the coprime moduli, the
    # SAME most-restrictive-wins CASE order (separator differences
    # can't matter — detection is pure substring containment)
    Face("c_license_tags",
         lambda s, d: curation.license_tags(
             curation.with_license_lines(read_docs(s, d))
         ),
         f"""
            WITH lt AS (
                SELECT doc_id, text
                    || CASE WHEN doc_id % {curation.LICENSE_MOD_SA} = 0 THEN chr(10)
                        || 'Licensed under creativecommons.org/licenses/by-sa/4.0/'
                        ELSE '' END
                    || CASE WHEN doc_id % {curation.LICENSE_MOD_BY} = 0 THEN chr(10)
                        || 'Licensed under creativecommons.org/licenses/by/4.0/'
                        ELSE '' END
                    || CASE WHEN doc_id % {curation.LICENSE_MOD_PD} = 0 THEN chr(10)
                        || 'This work is dedicated to the public domain (CC0).'
                        ELSE '' END
                    || CASE WHEN doc_id % {curation.LICENSE_MOD_ARR} = 0 THEN chr(10)
                        || 'All rights reserved.' ELSE '' END AS t
                FROM documents
            )
            SELECT doc_id,
                   CASE WHEN contains(t, 'All rights reserved')
                            THEN 'all-rights-reserved'
                        WHEN contains(t, 'creativecommons.org/licenses/by-sa')
                            THEN 'cc-by-sa'
                        WHEN contains(t, 'creativecommons.org/licenses/by')
                            THEN 'cc-by'
                        WHEN contains(t, 'public domain')
                            THEN 'public-domain'
                        ELSE 'none' END AS license
            FROM lt ORDER BY doc_id
        """),
    # the datasheet rollup a release's legal review reads first
    Face("c_license_rollup",
         lambda s, d: curation.license_rollup(
             read_docs(s, d)
         ),
         f"""
            WITH lt AS (
                SELECT doc_id, text
                    || CASE WHEN doc_id % {curation.LICENSE_MOD_SA} = 0 THEN chr(10)
                        || 'Licensed under creativecommons.org/licenses/by-sa/4.0/'
                        ELSE '' END
                    || CASE WHEN doc_id % {curation.LICENSE_MOD_BY} = 0 THEN chr(10)
                        || 'Licensed under creativecommons.org/licenses/by/4.0/'
                        ELSE '' END
                    || CASE WHEN doc_id % {curation.LICENSE_MOD_PD} = 0 THEN chr(10)
                        || 'This work is dedicated to the public domain (CC0).'
                        ELSE '' END
                    || CASE WHEN doc_id % {curation.LICENSE_MOD_ARR} = 0 THEN chr(10)
                        || 'All rights reserved.' ELSE '' END AS t
                FROM documents
            ), tags AS (
                SELECT doc_id,
                       CASE WHEN contains(t, 'All rights reserved')
                                THEN 'all-rights-reserved'
                            WHEN contains(t, 'creativecommons.org/licenses/by-sa')
                                THEN 'cc-by-sa'
                            WHEN contains(t, 'creativecommons.org/licenses/by')
                                THEN 'cc-by'
                            WHEN contains(t, 'public domain')
                                THEN 'public-domain'
                            ELSE 'none' END AS license
                FROM lt
            ), tk AS (
                SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), per AS (
                SELECT license, count(*) AS n_docs, sum(n_tokens) AS n_tokens
                FROM tags JOIN tk USING (doc_id) GROUP BY license
            ), tot AS (SELECT sum(n_tokens) AS tot FROM per)
            SELECT license, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST((10000 * n_tokens) // tot AS BIGINT)
                       AS token_share_bp
            FROM per, tot ORDER BY license
        """),
    # repeat-budget audit sharing mixture_resample's epoch arithmetic:
    # epochs_bp per source + the ~4-epoch healthy-repetition verdict
    # epoch-repeat plan: the same e_bp = budget*w div src_tokens rule
    # as c_mixture_resample, rolled to the source dim with the
    # 4-epoch healthy bound
    Face("c_epoch_plan", lambda s, d: curation.epoch_plan(read_docs(s, d)),
         f"""
            WITH wt AS (SELECT * FROM (VALUES {", ".join(
                f"('{s}', {w})" for s, w in sorted(curation.MIXTURE_WEIGHTS.items())
            )}) w(source, weight_bp)),
            tot AS (
                SELECT d.source, w.weight_bp,
                       CAST(sum(len({TOKS})) AS BIGINT) AS src_tokens
                FROM documents d JOIN wt w ON w.source = d.source
                GROUP BY d.source, w.weight_bp
            )
            SELECT source, CAST(weight_bp AS BIGINT) AS weight_bp,
                   src_tokens,
                   CAST(({curation.EPOCH_BUDGET_TOKENS} * weight_bp) // 10000
                        AS BIGINT) AS target_tokens,
                   CAST(({curation.EPOCH_BUDGET_TOKENS} * weight_bp) // src_tokens
                        AS BIGINT) AS epochs_bp,
                   CAST((({curation.EPOCH_BUDGET_TOKENS} * weight_bp) // src_tokens)
                        // 10000 AS BIGINT) AS full_epochs,
                   ({curation.EPOCH_BUDGET_TOKENS} * weight_bp) // src_tokens
                       > {curation.EPOCH_MAX_HEALTHY_BP} AS exceeds_healthy
            FROM tot ORDER BY source
        """),
    # mT5/XLM-R temperature smoothing swept over the alpha grid: raw vs
    # smoothed source shares + implied boost factor, exact via
    # sqrt-composed powers (no pow(); IEEE sqrt is deterministic)
    # temperature sweep: same sqrt-composed powers on the identical
    # doubles, floored to milli-units, integer shares on top
    Face("c_temperature_mix",
         lambda s, d: curation.temperature_mix(
             read_docs(s, d)),
         f"""
            WITH cnt AS (
                SELECT source, CAST(sum(len({TOKS})) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source
            ),
            tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens
                    FROM cnt),
            grid AS (SELECT unnest([{", ".join(str(x) for x in
                                               curation.TEMP_ALPHA_GRID_BP)}])
                         AS alpha_bp),
            g AS (
                SELECT c.source, c.n_tokens, t.tot_tokens,
                       CAST(g.alpha_bp AS BIGINT) AS alpha_bp,
                       CAST(floor(1000 * (CASE g.alpha_bp
                            WHEN 2500 THEN
                                sqrt(sqrt(CAST(c.n_tokens AS DOUBLE)))
                            WHEN 5000 THEN sqrt(CAST(c.n_tokens AS DOUBLE))
                            WHEN 7500 THEN sqrt(CAST(c.n_tokens AS DOUBLE))
                                * sqrt(sqrt(CAST(c.n_tokens AS DOUBLE)))
                            ELSE CAST(c.n_tokens AS DOUBLE) END))
                           AS BIGINT) AS s_milli
                FROM cnt c, tot t, grid g
            ),
            sums AS (SELECT alpha_bp, CAST(sum(s_milli) AS BIGINT) AS s_tot
                     FROM g GROUP BY alpha_bp),
            sh AS (
                SELECT g.alpha_bp, g.source, g.n_tokens,
                       CAST(CASE WHEN g.tot_tokens = 0 THEN 0
                                 ELSE (10000 * g.n_tokens) // g.tot_tokens
                            END AS BIGINT) AS raw_share_bp,
                       CAST(CASE WHEN s.s_tot = 0 THEN 0
                                 ELSE (10000 * g.s_milli) // s.s_tot
                            END AS BIGINT) AS temp_share_bp
                FROM g JOIN sums s USING (alpha_bp)
            )
            SELECT alpha_bp, source, n_tokens, raw_share_bp, temp_share_bp,
                   CAST(CASE WHEN raw_share_bp = 0 THEN 0
                             ELSE (10000 * temp_share_bp) // raw_share_bp
                        END AS BIGINT) AS boost_bp
            FROM sh ORDER BY alpha_bp, source
        """),
    # eval-integrity report: exact vs fuzzy contamination counts per
    # benchmark item (idiom-collision vs real-leak signatures)
    # eval-integrity report: per benchmark item, how many OTHER corpus
    # docs hit it exactly (any shared snippet trigram) vs fuzzily
    # (near-copy-level Jaccard) — the fuzzy CTE is the shared fragment
    Face("c_contamination_report",
         lambda s, d: curation.contamination_report(
             read_docs(s, d)
         ),
         bands_cte + _fuzzy_ctes + f"""
            , bitems AS (
                SELECT doc_id AS bench_id FROM documents
                WHERE doc_id % {curation.BENCH_MOD} = 0
            ), bsh AS (
                SELECT DISTINCT doc_id AS bench_id,
                       unnest(list_distinct({SNIP_SHINGLES})) AS s
                FROM documents WHERE doc_id % {curation.BENCH_MOD} = 0
            ), docsh AS (
                SELECT DISTINCT doc_id,
                       unnest(list_distinct({SHINGLES})) AS s
                FROM documents
            ), ex AS (
                SELECT b.bench_id,
                       count(DISTINCT d.doc_id) AS n_exact_docs
                FROM bsh b JOIN docsh d USING (s)
                WHERE d.doc_id <> b.bench_id GROUP BY b.bench_id
            ), fz AS (
                SELECT bench_id, count(DISTINCT doc_id) AS n_fuzzy_docs
                FROM fuzzy WHERE doc_id <> bench_id GROUP BY bench_id
            )
            SELECT bi.bench_id,
                   CAST(coalesce(ex.n_exact_docs, 0) AS BIGINT)
                       AS n_exact_docs,
                   CAST(coalesce(fz.n_fuzzy_docs, 0) AS BIGINT)
                       AS n_fuzzy_docs
            FROM bitems bi
            LEFT JOIN ex ON ex.bench_id = bi.bench_id
            LEFT JOIN fz ON fz.bench_id = bi.bench_id
            ORDER BY bi.bench_id
        """),
    # fixed-size per-source eval holdout: deterministic hash-rank
    # reservoir (exactly k per source, not a drifting rate)
    # cross-split near-dup leakage: banded pairs x holdout split
    # under one hash (eval-integrity, Lee et al. 2022)
    # holdout split: k-smallest (md5, doc_id) hash ranks per source
    # leakage audit: the bands_cte pair chain at the 0.5 default +
    # the holdout hash-rank rule, one crossing join, zero-filled
    Face("c_leakage_audit",
         lambda s, d: curation.leakage_audit(read_docs(s, d)),
         bands_cte + f"""
            , cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            ), pairs AS (
                SELECT c.doc_a, c.doc_b
                FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                            JOIN sh sb ON sb.doc_id = c.doc_b
                WHERE round(len(list_intersect(sa.shingles, sb.shingles))
                      / len(list_distinct(
                            list_concat(sa.shingles, sb.shingles))), 4)
                      >= 0.5
            ), sp AS (
                SELECT doc_id, source,
                       CASE WHEN row_number() OVER (
                                PARTITION BY source ORDER BY
                                CAST(('0x' || substr(md5('{curation.HOLDOUT_SEED}:'
                                    || doc_id), 1, 8)) AS BIGINT), doc_id)
                                <= {curation.HOLDOUT_K}
                            THEN 'holdout' ELSE 'train' END AS split
                FROM documents
            ), crossing AS (
                SELECT CASE WHEN x.split = 'holdout' THEN p.doc_a
                            ELSE p.doc_b END AS holdout_doc
                FROM pairs p
                JOIN sp x ON x.doc_id = p.doc_a
                JOIN sp y ON y.doc_id = p.doc_b
                WHERE x.split <> y.split
            ), leaks AS (
                SELECT s2.source,
                       CAST(count(*) AS BIGINT) AS n_leaky_pairs,
                       CAST(count(DISTINCT c.holdout_doc) AS BIGINT)
                           AS n_leaky_holdout_docs
                FROM crossing c JOIN sp s2 ON s2.doc_id = c.holdout_doc
                GROUP BY s2.source
            ), sizes AS (
                SELECT source,
                       CAST(sum(CASE WHEN split = 'train' THEN 1
                                ELSE 0 END) AS BIGINT) AS n_train,
                       CAST(sum(CASE WHEN split = 'holdout' THEN 1
                                ELSE 0 END) AS BIGINT) AS n_holdout
                FROM sp GROUP BY source
            )
            SELECT z.source, z.n_train, z.n_holdout,
                   coalesce(l.n_leaky_pairs, 0) AS n_leaky_pairs,
                   coalesce(l.n_leaky_holdout_docs, 0)
                       AS n_leaky_holdout_docs
            FROM sizes z LEFT JOIN leaks l USING (source)
            ORDER BY source
        """),
    Face("c_holdout_split",
         lambda s, d: curation.holdout_split(read_docs(s, d)),
         f"""
            WITH hr AS (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source ORDER BY
                           CAST(('0x' || substr(md5('{curation.HOLDOUT_SEED}:'
                                                    || doc_id), 1, 8))
                                AS BIGINT), doc_id) AS rk
                FROM documents
            )
            SELECT doc_id, source,
                   CASE WHEN rk <= {curation.HOLDOUT_K} THEN 'holdout'
                        ELSE 'train' END AS split
            FROM hr ORDER BY doc_id
        """),
    # the burn-down funnel (stage chain shared with corpus_build)
    # the composed corpus build: every stage's twin chained over the
    # previous stage's survivor set — gate reasons, exact-dedup keeper,
    # contaminated shingle set, sampling hash, and packing prefix-sum
    # must ALL agree for the final hash to match
    # the burn-down funnel over the SAME stage chain: per-stage doc and
    # token counts with exact-bp retention vs raw
    Face("c_corpus_funnel",
         lambda s, d: curation.corpus_funnel(read_docs(s, d)),
         f"""
            WITH {corpus_chain_for("documents")},
            fcnt AS (
                SELECT 0 AS stage_idx, 'raw' AS stage, count(*) AS n_docs,
                       sum(len({TOKS})) AS n_tokens FROM documents
                UNION ALL
                SELECT 1, 'gated', count(*), sum(len({TOKS})) FROM s1
                UNION ALL
                SELECT 2, 'deduped', count(*), sum(len({TOKS})) FROM s2
                UNION ALL
                SELECT 3, 'clean', count(*), sum(len({TOKS})) FROM s3
                UNION ALL
                SELECT 4, 'sampled', count(*), sum(len({TOKS})) FROM s4
            ), fraw AS (
                SELECT count(*) AS rd, sum(len({TOKS})) AS rt
                FROM documents
            )
            SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
                   CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(n_tokens AS BIGINT) AS n_tokens,
                   CAST((10000 * n_docs) // rd AS BIGINT)
                       AS docs_retained_bp,
                   CAST((10000 * n_tokens) // rt AS BIGINT)
                       AS tokens_retained_bp
            FROM fcnt, fraw ORDER BY stage_idx
        """),
    # fixed-context-window chunking: in-scan explode, no shuffle
    # sliding fixed-size token windows (BERT-style striding); the size/
    # stride knobs interpolate from curation so they can never drift
    Face("c_chunk_windows",
         lambda s, d: curation.chunk_windows(read_docs(s, d)),
         f"""
            WITH t AS (
                SELECT doc_id, {TOKS} AS toks FROM documents
                WHERE trim(text) <> ''
            ), n AS (
                SELECT doc_id, toks, len(toks) AS n FROM t
            ), st AS (
                SELECT doc_id, toks, n,
                       unnest(range(0, n, {curation.CHUNK_STRIDE})) AS start_tok
                FROM n
            )
            SELECT doc_id,
                   CAST(start_tok // {curation.CHUNK_STRIDE} AS BIGINT) AS chunk_id,
                   CAST(start_tok AS BIGINT) AS start_tok,
                   CAST(least({curation.CHUNK_SIZE}, n - start_tok) AS BIGINT)
                       AS n_chunk_tokens,
                   array_to_string(
                       list_slice(toks, start_tok + 1,
                                  least(start_tok + {curation.CHUNK_SIZE}, n)), ' ')
                       AS chunk_text
            FROM st ORDER BY doc_id, chunk_id
        """),
    # epoch-weighted data mixing: per-source token-count dim -> integer
    # epochs + hash-fractional extra copy, in-scan copy fan-out
    # epoch-weighted mixture: integer epochs in bp + md5-fractional
    # extra copy; budget defaults to the weighted sources' token total
    Face("c_mixture_resample",
         lambda s, d: curation.mixture_resample(read_docs(s, d)),
         f"""
            WITH wt AS (SELECT * FROM (VALUES {", ".join(
                f"('{s}', {w})" for s, w in sorted(curation.MIXTURE_WEIGHTS.items())
            )}) w(source, weight_bp)),
            t AS (
                SELECT doc_id, source, CAST(len({TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), tot AS (
                SELECT source, weight_bp, sum(n_tokens) AS src_tokens
                FROM t JOIN wt USING (source) GROUP BY source, weight_bp
            ), bud AS (SELECT sum(src_tokens) AS budget_tokens FROM tot),
            rates AS (
                SELECT source,
                       (budget_tokens * weight_bp) // src_tokens AS e_bp
                FROM tot, bud
            ), docs AS (
                SELECT t.doc_id, t.source, t.n_tokens,
                       CAST(e_bp // 10000
                       + CASE WHEN CAST(('0x' || substr(md5('mix:' || t.doc_id), 1, 8))
                                   AS BIGINT) % 10000 < e_bp % 10000
                              THEN 1 ELSE 0 END AS BIGINT) AS n_copies
                FROM t JOIN rates USING (source)
            )
            SELECT doc_id, source, n_tokens,
                   CAST(n_copies AS BIGINT) AS n_copies,
                   CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_id
            FROM docs WHERE n_copies > 0 ORDER BY doc_id, copy_id
        """),
    # mojibake repair: double-encoded injections repaired JVM-side;
    # the oracle predicts the repaired bytes from the injection formula
    # charset sniffing at ingest: BOM/UTF-8-validity detection + decode,
    # entirely JVM (binary substring + is_valid_utf8 + per-branch decode)
    # charset sniff: the engine detects BOMs / validates UTF-8 / decodes
    # REAL re-encoded bytes (incl. UTF-16, which DuckDB cannot decode);
    # the oracle predicts label + decoded-text md5 from the synthesis
    # formula — same contract as mojibake, labels interpolated
    Face("c_charset_sniff",
         lambda s, d: curation.sniff_decode(
             curation.with_mixed_encodings(read_docs(s, d))
         ),
         f"""
            SELECT doc_id,
                   CASE doc_id % 5
                     WHEN 1 THEN '{curation.CHARSET_UTF8_BOM}'
                     WHEN 2 THEN '{curation.CHARSET_UTF16_LE}'
                     WHEN 3 THEN '{curation.CHARSET_UTF16_BE}'
                     WHEN 4 THEN '{curation.CHARSET_LATIN1}'
                     ELSE '{curation.CHARSET_UTF8}' END AS charset,
                   CASE WHEN doc_id % 5 = 4 THEN md5(text || 'é.')
                        ELSE md5(text) END AS text_md5
            FROM documents ORDER BY doc_id
        """),
    # NFC normalization: a REAL cross-engine check — DuckDB's
    # nfc_normalize computes the canonical bytes independently and both
    # engines must agree on every md5
    # NFC normalization: unlike the formula-prediction oracles, DuckDB
    # computes nfc_normalize ITSELF (ICU) and must byte-agree with
    # Python's unicodedata on every canonical form; injection suffixes
    # interpolate from the operator module
    Face("c_nfc_normalize",
         lambda s, d: curation.nfc_normalize_docs(
             curation.with_denormalized(read_docs(s, d))
         ),
         f"""
            WITH inj AS (
                SELECT doc_id, CASE
                    WHEN doc_id % 3 = 0 THEN text || '{curation.NFC_DECOMP_SUFFIX}'
                    WHEN doc_id % 3 = 1 THEN text || '{curation.NFC_COMP_SUFFIX}'
                    ELSE text END AS t
                FROM documents
            )
            SELECT doc_id,
                   t <> nfc_normalize(t) AS changed,
                   md5(nfc_normalize(t)) AS text_md5
            FROM inj ORDER BY doc_id
        """),
    # the composed ingest chain under one hash: charset decode -> NFC
    # -> hard quality gate, drift in any stage fails the one hash
    # composed ingest chain: decoded text predicted from the synthesis
    # formula, NFC computed INDEPENDENTLY by DuckDB's ICU, gate via the
    # shared gate_cte_for fragment on the normalized text — one hash
    # over the whole chain (corpus_build doctrine)
    Face("c_ingest_pipeline",
         lambda s, d: curation.ingest_pipeline(
             curation.with_mixed_encodings(read_docs(s, d))
         ),
         f"""
            WITH dec AS (
                SELECT doc_id,
                       CASE doc_id % 5
                         WHEN 1 THEN '{curation.CHARSET_UTF8_BOM}'
                         WHEN 2 THEN '{curation.CHARSET_UTF16_LE}'
                         WHEN 3 THEN '{curation.CHARSET_UTF16_BE}'
                         WHEN 4 THEN '{curation.CHARSET_LATIN1}'
                         ELSE '{curation.CHARSET_UTF8}' END AS charset,
                       CASE WHEN doc_id % 5 = 4 THEN text || 'é.'
                            ELSE text END AS raw
                FROM documents
            ), norm AS (
                SELECT doc_id, charset,
                       raw <> nfc_normalize(raw) AS nfc_changed,
                       nfc_normalize(raw) AS text
                FROM dec
            ), {gate_cte_for("norm")}
            SELECT n.doc_id, n.charset, n.nfc_changed,
                   (g.reasons = '') AS passed, md5(n.text) AS text_md5
            FROM norm n JOIN gated g USING (doc_id)
            ORDER BY n.doc_id
        """),
    # mojibake repair: the engine decodes real double-encoded bytes;
    # the oracle knows what the repair MUST produce (injection formula
    # in proper UTF-8) — a wrong charset hop breaks the md5
    Face("c_mojibake",
         lambda s, d: curation.repair_mojibake(
             curation.with_mojibake(read_docs(s, d))
         ),
         f"""
            SELECT doc_id,
                   doc_id % {curation.MOJIBAKE_MOD} IN (0, 3) AS had_mojibake,
                   md5(text || CASE
                       WHEN doc_id % {curation.MOJIBAKE_MOD} = 0 THEN ' summer café menu'
                       WHEN doc_id % {curation.MOJIBAKE_MOD} = 3 THEN ' naïve résumé attached'
                       ELSE '' END) AS repaired_md5
            FROM documents ORDER BY doc_id
        """),
    # DSIR importance selection: hashed-bigram count-ratio scores vs a
    # target subset, deterministic threshold at the corpus prior
    # DSIR importance selection: the oracle rebuilds the hashed-bigram
    # feature stream, the one-pass (raw, target) bucket dim, and the
    # integer ratio/threshold arithmetic — all BIGINT end to end
    Face("c_dsir_select", lambda s, d: curation.dsir_select(read_docs(s, d)),
         f"""
            WITH toks AS (
                SELECT doc_id, {TOKS} AS t FROM documents
            ), grams AS (
                SELECT doc_id,
                       unnest(CASE WHEN len(t) < 2
                                   THEN [array_to_string(t, ' ')]
                                   ELSE list_transform(range(1, len(t)),
                                        i -> array_to_string(t[i:i+1], ' '))
                              END) AS g
                FROM toks
            ), hashed AS (
                SELECT doc_id, {H32.format(x='g')} % {curation.DSIR_BUCKETS} AS b
                FROM grams
            ), dim AS (
                SELECT b, count(*) AS raw_n,
                       sum(CASE WHEN doc_id % {curation.DSIR_TARGET_MOD} = 0
                                THEN 1 ELSE 0 END) AS tgt_n
                FROM hashed GROUP BY b
            ), sc AS (
                SELECT h.doc_id, count(*) AS n_grams,
                       sum((d.tgt_n * {curation.DSIR_SCALE}) // d.raw_n) AS s
                FROM hashed h JOIN dim d USING (b) GROUP BY h.doc_id
            )
            SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                   CAST(s // n_grams AS BIGINT) AS score_bp,
                   (s // n_grams) >= {curation.DSIR_SCALE // curation.DSIR_TARGET_MOD}
                       AS selected
            FROM sc ORDER BY doc_id
        """),
    # Dolma-style paragraph attribute taggers + mixer verdict over the
    # synthetic multi-line text (pure in-scan posexplode, no shuffle)
    # Dolma paragraph taggers: same synthetic lines as c_line_dedup,
    # attribute formulas (token count, alpha share, punct/nav cues,
    # mixer keep rule) re-derived literally
    Face("c_paragraph_tags",
         lambda s, d: curation.paragraph_tags(
             curation.with_synthetic_lines(read_docs(s, d))
         ),
         f"""
            WITH multi AS (
                SELECT doc_id, {lines_sql} AS ls FROM documents
            ), paras AS (
                SELECT doc_id,
                       unnest(range(0, len(ls))) AS para_idx,
                       unnest(ls) AS para
                FROM multi
            ), tagged AS (
                SELECT doc_id, CAST(para_idx AS BIGINT) AS para_idx,
                       CAST(len(list_filter(
                           regexp_split_to_array(trim(para), '\\s+'),
                           w -> w <> '')) AS BIGINT) AS n_tokens,
                       CAST((length(regexp_replace(para, '[^A-Za-z]', '', 'g'))
                             * 10000) // greatest(length(para), 1) AS BIGINT)
                           AS alpha_bp,
                       regexp_matches(para, '[.!?\"]\\s*$') AS ends_punct,
                       contains(para, '|') AS is_nav
                FROM paras
            )
            SELECT doc_id, para_idx, n_tokens, alpha_bp, ends_punct, is_nav,
                   (n_tokens >= {curation.PARA_MIN_TOKENS}
                    AND alpha_bp >= {curation.PARA_MIN_ALPHA_BP}
                    AND NOT is_nav) AS keep
            FROM tagged ORDER BY doc_id, para_idx
        """),
    # the mixer's apply face: kept paragraphs reassembled, bytes pinned
    # mixer apply: same attribute formulas as c_paragraph_tags, kept
    # paragraphs re-joined in order and md5-pinned
    Face("c_paragraph_mix",
         lambda s, d: curation.paragraph_mixer_apply(
             curation.with_synthetic_lines(read_docs(s, d))
         ),
         f"""
            WITH multi AS (
                SELECT doc_id, {lines_sql} AS ls FROM documents
            ), kept AS (
                SELECT doc_id, ls,
                       list_filter(ls, para ->
                           len(list_filter(
                               regexp_split_to_array(trim(para), '\\s+'),
                               w -> w <> '')) >= {curation.PARA_MIN_TOKENS}
                           AND length(regexp_replace(para, '[^A-Za-z]', '', 'g'))
                               * 10000
                               >= {curation.PARA_MIN_ALPHA_BP}
                                  * greatest(length(para), 1)
                           AND NOT contains(para, '|')) AS kp
                FROM multi
            )
            SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_paras,
                   CAST(len(kp) AS BIGINT) AS n_kept,
                   md5(coalesce(array_to_string(kp, chr(10)), '')) AS clean_md5
            FROM kept ORDER BY doc_id
        """),
    # hyphen line-wrap repair (PDF/OCR artifact): real-bytes oracle,
    # lowercase-both-sides join rule
    # invisible/control-char scrub over deterministic zero-width/BOM/
    # soft-hyphen/control injections; text_md5 pins the scrubbed bytes
    # computed INDEPENDENTLY by each engine's regexp_replace
    # dehyphenation: DuckDB regexp_replaces the SAME constructed bytes
    # with the shared pattern ('g' = Spark's global default, '\\1' =
    # Java's '$1') — real-bytes agreement, not a formula prediction
    # invisible scrub: injection formulas + the INVISIBLE_RE class
    # interpolated from the curation constants (raw bytes for the
    # >U+00FF members, \\xhh regex escapes for the control range —
    # Java regex and RE2 read the identical pattern text)
    Face("c_invisible_scrub",
         lambda s, d: curation.invisible_scrub(
             curation.with_invisible_chars(read_docs(s, d))
         ),
         f"""
            WITH inj AS (
                SELECT doc_id, CASE doc_id % 5
                    WHEN 1 THEN text || '{curation.INVIS_SUFFIX_1}'
                    WHEN 2 THEN '{curation.INVIS_PREFIX_2}' || text || '{curation.INVIS_SUFFIX_2}'
                    WHEN 3 THEN text || '{curation.INVIS_SUFFIX_3}'
                    ELSE text END AS t
                FROM documents
            ), fx AS (
                SELECT doc_id, t,
                       regexp_replace(t, '{curation.INVISIBLE_RE}', '', 'g') AS clean
                FROM inj
            )
            SELECT doc_id,
                   CAST(length(t) - length(clean) AS BIGINT) AS n_stripped,
                   (length(t) <> length(clean)) AS changed,
                   md5(clean) AS text_md5
            FROM fx ORDER BY doc_id
        """),
    Face("c_dehyphenate",
         lambda s, d: curation.dehyphenate(
             curation.with_hyphen_wraps(read_docs(s, d))
         ),
         f"""
            WITH inj AS (
                SELECT doc_id, CASE doc_id % 4
                    WHEN 1 THEN text || ' broad-' || chr(10) ||
                                'casting net-' || chr(10) || 'works'
                    WHEN 2 THEN text || ' Wi-' || chr(10) ||
                                'Fi upper-' || chr(10) || 'Case'
                    WHEN 3 THEN text || ' self-' || chr(10) || 'service'
                    ELSE text END AS t
                FROM documents
            ), fx AS (
                SELECT doc_id, t,
                       regexp_replace(t, '{curation.DEHYPHEN_RE}', '\\1\\2', 'g')
                           AS fixed
                FROM inj
            )
            SELECT doc_id,
                   CAST((length(t) - length(fixed)) / 2 AS BIGINT) AS n_joins,
                   md5(fixed) AS text_md5
            FROM fx ORDER BY doc_id
        """),
    # the composed training-corpus build: gate -> exact dedup ->
    # decontaminate -> stratified sample -> shard pack, one hash over
    # the whole chain (the curation analog of g_corpus_frontier)
    Face("c_corpus_build", lambda s, d: curation.corpus_build(read_docs(s, d)),
         f"""
            WITH {corpus_chain_for("documents")}
            SELECT doc_id, source, lang, n_tokens,
                   CAST(floor((sum(n_tokens) OVER (PARTITION BY source
                                                   ORDER BY doc_id)
                               - n_tokens) / 500) AS BIGINT) AS shard_id
            FROM t ORDER BY doc_id
        """),
    # corpus-level line dedup: drop lines shared by >=2 docs (CCNet);
    # clean_md5 pins the byte-exact surviving text per doc
    # corpus-level line dedup: lines shared by >= LINE_MIN_DF docs are
    # boilerplate; clean_md5 re-joins survivors in original order so a
    # reassembly/ordering bug (not just a count bug) fails the hash
    Face("c_line_dedup",
         lambda s, d: curation.line_dedup(
             curation.with_synthetic_lines(read_docs(s, d))
         ),
         f"""
            WITH multi AS (
                SELECT doc_id, {lines_sql} AS ls FROM documents
            ), lines AS (
                SELECT doc_id, unnest(ls) AS line,
                       unnest(range(1, len(ls) + 1)) AS pos
                FROM multi
            ), hot AS (
                SELECT md5(line) AS fp FROM lines
                GROUP BY 1 HAVING count(DISTINCT doc_id) >= {curation.LINE_MIN_DF}
            ), kept AS (
                SELECT * FROM lines WHERE md5(line) NOT IN (SELECT fp FROM hot)
            ), agg AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
                FROM kept GROUP BY doc_id
            )
            SELECT m.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                   coalesce(a.clean_md5, md5('')) AS clean_md5
            FROM multi m LEFT JOIN agg a USING (doc_id)
            ORDER BY m.doc_id
        """),
    # host-scoped line dedup (RefinedWeb rule): df and anti-join key on
    # (source, fp), so only lines saturating ONE host's pages are
    # boilerplate — the subscribe block (hot only corpus-wide) survives
    # here, the per-source footer does not
    # host-scoped line dedup: identical shape, but document frequency and
    # the anti-join key on (source, fp) and the threshold is the host one
    # — the subscribe block (hot only corpus-wide) must SURVIVE here
    Face("c_line_dedup_host",
         lambda s, d: curation.line_dedup(
             curation.with_synthetic_lines(read_docs(s, d)),
             min_df=curation.LINE_HOST_MIN_DF,
             scope_col="source",
         ),
         f"""
            WITH multi AS (
                SELECT doc_id, source, {lines_sql} AS ls FROM documents
            ), lines AS (
                SELECT doc_id, source, unnest(ls) AS line,
                       unnest(range(1, len(ls) + 1)) AS pos
                FROM multi
            ), hot AS (
                SELECT source, md5(line) AS fp FROM lines
                GROUP BY 1, 2 HAVING count(DISTINCT doc_id) >= {curation.LINE_HOST_MIN_DF}
            ), kept AS (
                SELECT l.* FROM lines l
                LEFT JOIN hot h ON h.source = l.source AND h.fp = md5(l.line)
                WHERE h.fp IS NULL
            ), agg AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       md5(string_agg(line, chr(10) ORDER BY pos)) AS clean_md5
                FROM kept GROUP BY doc_id
            )
            SELECT m.doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                   coalesce(a.clean_md5, md5('')) AS clean_md5
            FROM multi m LEFT JOIN agg a USING (doc_id)
            ORDER BY m.doc_id
        """),
]
