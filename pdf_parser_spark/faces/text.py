"""Text-analysis faces: token and language statistics, LM surprisal,
readability, quality gates, BPE/unigram tokenizers, search (BM25, KWIC)
and corpus datasheets."""

from __future__ import annotations

from pdf_parser_spark.faces import Face
from pdf_parser_spark.faces.shared import (
    EN,
    H32,
    SHINGLES,
    TOKS,
    gate_cte_for,
    lines_sql,
    quality_sql,
    read_docs,
    word_hits,
)
from pdf_parser_spark.operators import curation, snapshot as SN, textstats
from pdf_parser_spark.sources.expected import UNIGRAM_VOCAB as _UV


_ES = "['el','la','de','y','que','en','un','una','los','por']"

_FR = "['le','la','de','et','que','en','un','une','les','pour']"

_DE = "['der','die','das','und','zu','in','ein','eine','mit','von']"

# the lang-id argmax CASE, shared by t_lang_id and t_lang_mismatch so the
# per-doc prediction and the audit rollup can never diverge (mirrors
# textstats.predicted_lang_col on the Spark side)
_PRED_LANG_CASE = f"""CASE
                     WHEN {word_hits(_ES)} > {word_hits(EN)} AND {word_hits(_ES)} >= {word_hits(_FR)} AND {word_hits(_ES)} >= {word_hits(_DE)} THEN 'es'
                     WHEN {word_hits(_FR)} > {word_hits(EN)} AND {word_hits(_FR)} > {word_hits(_ES)} AND {word_hits(_FR)} >= {word_hits(_DE)} THEN 'fr'
                     WHEN {word_hits(_DE)} > {word_hits(EN)} AND {word_hits(_DE)} > {word_hits(_ES)} AND {word_hits(_DE)} > {word_hits(_FR)} THEN 'de'
                     ELSE 'en' END"""

# BPE merge induction: K unrolled stages (like the PageRank CTE chain).
# Symbol sequences ride in a '|sym||sym|' wrapped string: replace() is
# left-to-right non-overlapping — exactly BPE's greedy merge scan — and
# the per-symbol '|...|' wrapping keeps adjacent matches from sharing
# boundary characters ('|a||a||a||a|' merges to '|aa||aa|', not
# '|aa||a||a|').  Corpus tokens are \\S+ runs, so '|' cannot occur
# inside a symbol.
_bpe_stages = []

for _k in range(1, textstats.BPE_MERGES + 1):
    _bpe_stages.append(f"""
            p{_k} AS (
                SELECT p.l AS l, p.r AS r, sum(freq) AS cnt FROM (
                    SELECT freq,
                           unnest(list_transform(range(1, len(syms)),
                               i -> {{'l': syms[i], 'r': syms[i+1]}})) AS p
                    FROM (
                        SELECT freq,
                               string_split(substr(seq, 2, length(seq) - 2),
                                            '||') AS syms
                        FROM v{_k - 1}
                    )
                ) GROUP BY p.l, p.r
            ), b{_k} AS (
                SELECT l, r, cnt FROM p{_k}
                ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
            ), v{_k} AS (
                SELECT replace(seq,
                           (SELECT '|' || l || '||' || r || '|' FROM b{_k}),
                           (SELECT '|' || l || r || '|' FROM b{_k})) AS seq,
                       freq
                FROM v{_k - 1}
            )""")

_bpe_cte = f"""
        WITH bvocab AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(trim(text), '\\s+'),
                    x -> x <> '')) AS w
                FROM documents
            ) GROUP BY w
        ), v0 AS (
            SELECT array_to_string(list_transform(range(1, length(w) + 1),
                       i -> '|' || w[i:i] || '|'), '') AS seq, freq
            FROM bvocab
        ),{",".join(_bpe_stages)}
    """

# apply face: a parallel word-carrying chain driven by the SAME b{k}
# merge selections, so train and apply share every merge decision
_aw_stages = "".join(
    f""", aw{_k} AS (
                SELECT w, replace(seq,
                    (SELECT '|' || l || '||' || r || '|' FROM b{_k}),
                    (SELECT '|' || l || r || '|' FROM b{_k})) AS seq
                FROM aw{_k - 1}
            )"""
    for _k in range(1, textstats.BPE_MERGES + 1)
)

_bpe_apply_sql = _bpe_cte + f""", aw0 AS (
            SELECT w, array_to_string(list_transform(range(1, length(w) + 1),
                       i -> '|' || w[i:i] || '|'), '') AS seq
            FROM bvocab
        ){_aw_stages}, wmap AS (
            SELECT w,
                   CAST(len(string_split(substr(seq, 2, length(seq) - 2),
                                         '||')) AS BIGINT) AS n_syms,
                   CAST(length(w) AS BIGINT) AS n_ch
            FROM aw{textstats.BPE_MERGES}
        ), dw AS (
            SELECT doc_id, unnest(list_filter(
                regexp_split_to_array(trim(text), '\\s+'),
                x -> x <> '')) AS w
            FROM documents
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(m.n_ch) AS BIGINT) AS n_chars,
               CAST(sum(m.n_syms) AS BIGINT) AS n_bpe_symbols
        FROM dw JOIN wmap m USING (w)
        GROUP BY doc_id ORDER BY doc_id
    """

# synthetic C4-rule lines, the literal twin of curation.with_c4_lines
# (same empty-slice coalesce NB as lines_sql)
_c4_lines_sql = (
    "list_filter(["
    f"coalesce(array_to_string(({TOKS})[1:12], ' '), '') || '.', "
    "CASE WHEN doc_id % 3 = 0 THEN 'Enable javascript to view this content.' ELSE '' END, "
    f"coalesce(array_to_string(({TOKS})[13:24], ' '), '') || "
    "(CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END), "
    "CASE WHEN doc_id % 4 = 0 THEN 'This website uses cookies to improve your experience.' ELSE '' END, "
    "CASE WHEN doc_id % 5 = 0 THEN 'Click here now.' ELSE '' END, "
    "CASE WHEN doc_id % 11 = 0 THEN 'Buy cheap casino chips online right now.' ELSE '' END, "
    "CASE WHEN doc_id % 13 = 0 THEN 'lorem ipsum dolor sit amet consectetur.' ELSE '' END, "
    "CASE WHEN doc_id % 17 = 0 THEN 'var f = function() { return 1; }' ELSE '' END, "
    f"coalesce(array_to_string(({TOKS})[25:36], ' '), '') || '?'"
    "], x -> x <> '')"
)

_UNIGRAM_VALUES = ", ".join(
    f"('{p.replace(chr(39), chr(39) * 2)}', {c})" for p, c in _UV
)

# unigram Viterbi DP as CTE fragments (uv vocab, uw distinct words,
# step linear recursion, wunits per-word units, utoks token stream) —
# ONE definition shared by t_unigram_apply and t_unigram_fertility;
# callers prepend WITH RECURSIVE and append their rollup
_unigram_units_ctes = f"""uv(piece, cost) AS (
                SELECT * FROM (VALUES {_UNIGRAM_VALUES}) t(piece, cost)
            ), uw AS (
                SELECT DISTINCT w FROM (
                    SELECT unnest(list_transform({TOKS}, t -> lower(t)))
                        AS w FROM documents) u
                WHERE w <> ''
            ), step(w, n, pos, d0, d1, d2, d3) AS (
                SELECT w, length(w), 0, CAST(0 AS BIGINT),
                       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                       CAST(NULL AS BIGINT)
                FROM uw
                UNION ALL
                SELECT s.w, s.n, s.pos + 1,
                       least(
                           coalesce(s.d0 + (coalesce(v1.cost,
                               {textstats.UNIGRAM_UNK_MILLI}) * 1000 + 1),
                               {1 << 60}),
                           coalesce(s.d1 + (v2.cost * 1000 + 1), {1 << 60}),
                           coalesce(s.d2 + (v3.cost * 1000 + 1), {1 << 60}),
                           coalesce(s.d3 + (v4.cost * 1000 + 1), {1 << 60})
                       ),
                       s.d0, s.d1, s.d2
                FROM step s
                LEFT JOIN uv v1 ON v1.piece = substr(s.w, s.pos + 1, 1)
                LEFT JOIN uv v2 ON s.pos >= 1
                               AND v2.piece = substr(s.w, s.pos, 2)
                LEFT JOIN uv v3 ON s.pos >= 2
                               AND v3.piece = substr(s.w, s.pos - 1, 3)
                LEFT JOIN uv v4 ON s.pos >= 3
                               AND v4.piece = substr(s.w, s.pos - 2, 4)
                WHERE s.pos < s.n
            ), wunits AS (
                SELECT w, d0 AS units FROM step WHERE pos = n
            ), utoks AS (
                SELECT doc_id, w FROM (
                    SELECT doc_id,
                           unnest(list_transform({TOKS}, t -> lower(t)))
                               AS w FROM documents) u
                WHERE w <> ''
            )"""

# shared NB-classifier CTE chain (t_nb_classifier + t_filter_agreement):
# both class LMs re-derived from the seed-slice formulas, shared-vocab
# Laplace floor-log2 bits, final CTE nbout carries the scored columns
_nb_cte = f"""nbtoks AS (
                SELECT doc_id,
                       unnest(list_transform({TOKS}, t -> lower(t))) AS term
                FROM documents
            ), nbref AS (
                SELECT term,
                       CAST(sum(CASE WHEN doc_id % {textstats.NB_POS_MOD} = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
                       CAST(sum(CASE WHEN doc_id % {textstats.NB_POS_MOD} = {textstats.NB_NEG_REM}
                                     THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
                FROM nbtoks
                WHERE doc_id % {textstats.NB_POS_MOD} = 0
                   OR doc_id % {textstats.NB_POS_MOD} = {textstats.NB_NEG_REM}
                GROUP BY term
            ), nbmodel AS (
                SELECT CAST(sum(c_pos) AS BIGINT) AS n_pos,
                       CAST(sum(c_neg) AS BIGINT) AS n_neg,
                       CAST(count(*) AS BIGINT) AS v_model
                FROM nbref
            ), nbdim AS (
                SELECT term,
                       CAST(length(bin(greatest(
                           (m.n_pos + m.v_model) // (c_pos + 1), 1)))
                           - 1 AS BIGINT) AS bp,
                       CAST(length(bin(greatest(
                           (m.n_neg + m.v_model) // (c_neg + 1), 1)))
                           - 1 AS BIGINT) AS bn
                FROM nbref CROSS JOIN nbmodel m
            ), nbdoc AS (
                SELECT t.doc_id,
                       CAST(count(*) AS BIGINT) AS n_toks,
                       CAST(coalesce(sum(d.bp), 0) AS BIGINT) AS known_bp,
                       CAST(coalesce(sum(d.bn), 0) AS BIGINT) AS known_bn,
                       CAST(sum(CASE WHEN d.bp IS NULL THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_oov
                FROM nbtoks t LEFT JOIN nbdim d USING (term)
                GROUP BY t.doc_id
            ), nbsc AS (
                SELECT doc_id, n_toks, n_oov,
                       CAST(known_bp + n_oov *
                            (length(bin(greatest(m.n_pos + m.v_model, 1))) - 1)
                            AS BIGINT) AS bits_pos,
                       CAST(known_bn + n_oov *
                            (length(bin(greatest(m.n_neg + m.v_model, 1))) - 1)
                            AS BIGINT) AS bits_neg
                FROM nbdoc CROSS JOIN nbmodel m
            ), nbout AS (
                SELECT doc_id, n_toks, n_oov, bits_pos, bits_neg,
                       CAST(bits_neg - bits_pos AS BIGINT) AS margin,
                       CASE WHEN bits_neg - bits_pos >= 0
                            THEN 'keep' ELSE 'drop' END AS label
                FROM nbsc
            )"""


# top-k terms per language, (count desc, term asc) tie-break; the
# min_count=2 floor matches the Spark pre-filter
_TOP_TERMS_SQL = f"""
            WITH ex AS (
                SELECT lang, unnest(list_transform({TOKS}, t -> lower(t))) AS term
                FROM documents
            ), counts AS (
                SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt
                FROM ex GROUP BY lang, term HAVING count(*) >= 2
            ), ranked AS (
                SELECT lang, term, cnt,
                       CAST(row_number() OVER (
                           PARTITION BY lang ORDER BY cnt DESC, term
                       ) AS BIGINT) AS rank
                FROM counts
            )
            SELECT lang, term, cnt, rank FROM ranked WHERE rank <= 10
            ORDER BY lang, rank
        """


FACES = [
    Face("t_token_count", lambda s, d: textstats.token_count(read_docs(s, d)),
         f"""
            SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars_measured
            FROM documents ORDER BY doc_id
        """),
    # bigram-LM surprisal with stupid backoff (integer-bits KenLM analog)
    # bigram surprisal: same scoring table as the engine — seen bigram =
    # Laplace over the context row, miss = BACKOFF + unigram bits (the
    # coalesce(c,0)+1 form prices OOV at the same log2(N+V) constant),
    # first token = unigram; same _cb_tiers tercile chain
    Face("t_surprisal2", lambda s, d: textstats.lm_surprisal2(read_docs(s, d)),
         f"""
            WITH ta AS (
                SELECT doc_id, list_transform({TOKS}, t -> lower(t)) AS t
                FROM documents
            ), toks AS (
                SELECT doc_id, unnest(t) AS term FROM ta
            ), ucnt AS (
                SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM toks WHERE doc_id % {textstats.SURPRISAL_REF_MOD} = 0
                GROUP BY term
            ), model AS (
                SELECT CAST(sum(c) AS BIGINT) AS n_model,
                       CAST(count(*) AS BIGINT) AS v_model
                FROM ucnt
            ), pairs AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                           i -> {{'p': t[i], 'w': t[i + 1]}})) AS pr
                FROM ta WHERE len(t) >= 2
            ), bcnt AS (
                SELECT pr.p AS p, pr.w AS w, CAST(count(*) AS BIGINT) AS c2
                FROM pairs WHERE doc_id % {textstats.SURPRISAL_REF_MOD} = 0
                GROUP BY 1, 2
            ), bbits AS (
                SELECT b.p, b.w,
                       CAST(length(bin(greatest(
                           (u.c + m.v_model) // (b.c2 + 1), 1))) - 1
                            AS BIGINT) AS bbits
                FROM bcnt b JOIN ucnt u ON u.term = b.p CROSS JOIN model m
            ), scored AS (
                SELECT pa.doc_id,
                       CASE WHEN bb.bbits IS NOT NULL THEN 1 ELSE 0 END AS hit,
                       CASE WHEN bb.bbits IS NOT NULL THEN bb.bbits
                            ELSE {textstats.BACKOFF_BITS}
                                 + CAST(length(bin(greatest(
                                     (m.n_model + m.v_model)
                                     // (coalesce(u.c, 0) + 1), 1))) - 1
                                        AS BIGINT)
                       END AS b
                FROM pairs pa
                LEFT JOIN bbits bb ON bb.p = pa.pr.p AND bb.w = pa.pr.w
                LEFT JOIN ucnt u ON u.term = pa.pr.w
                CROSS JOIN model m
            ), pair_doc AS (
                SELECT doc_id, CAST(sum(hit) AS BIGINT) AS hits,
                       CAST(sum(b) AS BIGINT) AS psum
                FROM scored GROUP BY doc_id
            ), firsts AS (
                SELECT a.doc_id, CAST(len(a.t) AS BIGINT) AS n_toks,
                       CAST(length(bin(greatest(
                           (m.n_model + m.v_model)
                           // (coalesce(u.c, 0) + 1), 1))) - 1
                            AS BIGINT) AS fb
                FROM ta a LEFT JOIN ucnt u ON u.term = a.t[1]
                CROSS JOIN model m
            ), per_doc AS (
                SELECT f.doc_id, f.n_toks,
                       CAST(coalesce(p.hits, 0) AS BIGINT) AS n_bigram_hits,
                       CAST(f.fb + coalesce(p.psum, 0) AS BIGINT) AS bits_sum
                FROM firsts f LEFT JOIN pair_doc p USING (doc_id)
            ), sc AS (
                SELECT doc_id, n_toks, n_bigram_hits, bits_sum,
                       CAST((100 * bits_sum) // n_toks AS BIGINT) AS mean_cb
                FROM per_doc
            ), hist AS (
                SELECT mean_cb, count(*) AS cnt FROM sc GROUP BY mean_cb
            ), tiers AS (
                SELECT mean_cb,
                       sum(cnt) OVER (ORDER BY mean_cb ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - cnt AS cum_before,
                       sum(cnt) OVER () AS total
                FROM hist
            ), tmap AS (
                SELECT mean_cb,
                       least({textstats.SURPRISAL_TIERS} - 1,
                             CAST(({textstats.SURPRISAL_TIERS} * cum_before) // total
                                  AS BIGINT)) AS tier
                FROM tiers
            )
            SELECT s.doc_id, s.n_toks, s.n_bigram_hits, s.bits_sum, s.mean_cb,
                   CASE t.tier WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc s JOIN tmap t USING (mean_cb)
            ORDER BY s.doc_id
        """),
    # interpolated Kneser-Ney bigram surprisal — continuation-count
    # smoothing (the 'Francisco' fix), exact integers in quarters
    # interpolated Kneser-Ney bigram surprisal: continuation counts
    # (N1+ per context, N_cont per word, T bigram types) in quarters
    # (D=3/4); every branch mirrors the Spark when-chain verbatim
    Face("t_surprisal_kn",
         lambda s, d: textstats.lm_surprisal_kn(
             read_docs(s, d)),
         f"""
            WITH ta AS (
                SELECT doc_id, list_transform({TOKS}, t -> lower(t)) AS t
                FROM documents
            ), toks AS (
                SELECT doc_id, unnest(t) AS term FROM ta
            ), ucnt AS (
                SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM toks WHERE doc_id % {textstats.SURPRISAL_REF_MOD} = 0
                GROUP BY term
            ), pairs AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                           i -> {{'p': t[i], 'w': t[i + 1]}})) AS pr
                FROM ta WHERE len(t) >= 2
            ), bcnt AS (
                SELECT pr.p AS p, pr.w AS w, CAST(count(*) AS BIGINT) AS c2
                FROM pairs WHERE doc_id % {textstats.SURPRISAL_REF_MOD} = 0
                GROUP BY 1, 2
            ), n1pt AS (
                SELECT p, CAST(count(*) AS BIGINT) AS n1p FROM bcnt GROUP BY p
            ), ncontt AS (
                SELECT w, CAST(count(*) AS BIGINT) AS ncont
                FROM bcnt GROUP BY w
            ), tdim AS (
                SELECT CAST(count(*) AS BIGINT) AS tt FROM bcnt
            ), kb AS (
                SELECT b.p, b.w,
                       CAST(length(bin(greatest(
                           (4 * u.c * m.tt) //
                           (greatest(4 * b.c2 - {textstats.KN_DISC_NUM}, 0) * m.tt
                            + {textstats.KN_DISC_NUM} * n.n1p * nc.ncont), 1)))
                            - 1 AS BIGINT) AS kbits
                FROM bcnt b
                JOIN ucnt u ON u.term = b.p
                JOIN n1pt n ON n.p = b.p
                JOIN ncontt nc ON nc.w = b.w
                CROSS JOIN tdim m
            ), scored AS (
                SELECT pa.doc_id,
                       CASE WHEN kb.kbits IS NOT NULL THEN 1 ELSE 0 END AS hit,
                       CASE WHEN kb.kbits IS NOT NULL THEN kb.kbits
                            WHEN u.c IS NOT NULL
                                 AND {textstats.KN_DISC_NUM} * n.n1p
                                     * coalesce(nc.ncont, 0) > 0
                              THEN CAST(length(bin(greatest(
                                       (4 * u.c * m.tt) //
                                       ({textstats.KN_DISC_NUM} * n.n1p * nc.ncont),
                                       1))) - 1 AS BIGINT)
                            WHEN u.c IS NOT NULL
                              THEN {textstats.BACKOFF_BITS}
                                   + CAST(length(bin(m.tt + 1)) - 1 AS BIGINT)
                            ELSE {textstats.BACKOFF_BITS}
                                 + CAST(length(bin(greatest(
                                     (m.tt + 1)
                                     // (coalesce(nc.ncont, 0) + 1), 1)))
                                        - 1 AS BIGINT)
                       END AS b
                FROM pairs pa
                LEFT JOIN kb ON kb.p = pa.pr.p AND kb.w = pa.pr.w
                LEFT JOIN ucnt u ON u.term = pa.pr.p
                LEFT JOIN n1pt n ON n.p = pa.pr.p
                LEFT JOIN ncontt nc ON nc.w = pa.pr.w
                CROSS JOIN tdim m
            ), pair_doc AS (
                SELECT doc_id, CAST(sum(hit) AS BIGINT) AS hits,
                       CAST(sum(b) AS BIGINT) AS psum
                FROM scored GROUP BY doc_id
            ), firsts AS (
                SELECT a.doc_id, CAST(len(a.t) AS BIGINT) AS n_toks,
                       CAST(length(bin(greatest(
                           (m.tt + 1) // (coalesce(nc.ncont, 0) + 1), 1)))
                            - 1 AS BIGINT) AS fb
                FROM ta a LEFT JOIN ncontt nc ON nc.w = a.t[1]
                CROSS JOIN tdim m
            ), per_doc AS (
                SELECT f.doc_id, f.n_toks,
                       CAST(coalesce(p.hits, 0) AS BIGINT) AS n_kn_hits,
                       CAST(f.fb + coalesce(p.psum, 0) AS BIGINT) AS bits_sum
                FROM firsts f LEFT JOIN pair_doc p USING (doc_id)
            ), sc AS (
                SELECT doc_id, n_toks, n_kn_hits, bits_sum,
                       CAST((100 * bits_sum) // n_toks AS BIGINT) AS mean_cb
                FROM per_doc
            ), hist AS (
                SELECT mean_cb, count(*) AS cnt FROM sc GROUP BY mean_cb
            ), tiers AS (
                SELECT mean_cb,
                       sum(cnt) OVER (ORDER BY mean_cb ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - cnt AS cum_before,
                       sum(cnt) OVER () AS total
                FROM hist
            ), tmap AS (
                SELECT mean_cb,
                       least({textstats.SURPRISAL_TIERS} - 1,
                             CAST(({textstats.SURPRISAL_TIERS} * cum_before) // total
                                  AS BIGINT)) AS tier
                FROM tiers
            )
            SELECT s.doc_id, s.n_toks, s.n_kn_hits, s.bits_sum, s.mean_cb,
                   CASE t.tier WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc s JOIN tmap t USING (mean_cb)
            ORDER BY s.doc_id
        """),
    # Flesch reading ease + FK grade in exact milli-units, one scan
    # Flesch readability: same three regexp counts + milli formulas
    Face("t_readability", lambda s, d: textstats.readability(read_docs(s, d)),
         f"""
            WITH c AS (
                SELECT doc_id,
                       CAST(len({TOKS}) AS BIGINT) AS n_words,
                       CAST(greatest(len(regexp_extract_all(
                           lower(text), '[.!?]+')), 1) AS BIGINT)
                           AS n_sentences,
                       CAST(len(regexp_extract_all(
                           lower(text), '[aeiouy]+')) AS BIGINT)
                           AS n_syllables
                FROM documents
            ), m AS (
                SELECT doc_id, n_words, n_sentences, n_syllables,
                       CAST((390 * n_words) // n_sentences
                            + (11800 * n_syllables)
                              // greatest(n_words, 1) - 15590 AS BIGINT)
                           AS fk_grade_milli,
                       CAST(206835 - (1015 * n_words) // n_sentences
                            - (84600 * n_syllables)
                              // greatest(n_words, 1) AS BIGINT)
                           AS reading_ease_milli
                FROM c
            )
            SELECT *, CASE
                   {" ".join(
                       f"WHEN reading_ease_milli >= {fl} THEN '{nm}'"
                       for fl, nm in textstats.READABILITY_BANDS)}
                   ELSE 'very_difficult' END AS band
            FROM m ORDER BY doc_id
        """),
    # TTR + moving-average TTR (MATTR) lexical diversity, all-JVM
    # TTR + MATTR: same sliding 25-token windows (DuckDB slices are
    # 1-based inclusive = Spark slice(i, win)), short docs fall back
    Face("t_lexical_diversity",
         lambda s, d: textstats.lexical_diversity(
             read_docs(s, d)),
         f"""
            WITH ta AS (
                SELECT doc_id, list_transform({TOKS}, t -> lower(t)) AS t
                FROM documents
            ), c AS (
                SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                       CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
                       CASE WHEN len(t) >= {textstats.MATTR_WIN} THEN
                           list_transform(
                               range(1, len(t) - {textstats.MATTR_WIN} + 2),
                               i -> len(list_distinct(
                                   t[i:i + {textstats.MATTR_WIN} - 1])))
                       END AS wins
                FROM ta
            )
            SELECT doc_id, n_tokens, n_types,
                   CAST((10000 * n_types) // greatest(n_tokens, 1)
                        AS BIGINT) AS ttr_bp,
                   CAST(coalesce(
                       (10000 * list_sum(wins))
                           // ({textstats.MATTR_WIN} * len(wins)),
                       (10000 * n_types) // greatest(n_tokens, 1))
                        AS BIGINT) AS mattr_bp
            FROM c ORDER BY doc_id
        """),
    # per-language tokenizer fertility (multilingual-fairness stat)
    # fertility: one groupBy on the lang dim, shared pretoken regex,
    # integer-bp ratios
    Face("t_fertility",
         lambda s, d: textstats.tokenizer_fertility(read_docs(s, d)),
         f"""
            SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({TOKS})) AS BIGINT) AS n_words,
                   CAST(sum(len(regexp_extract_all(text,
                        '{textstats.BPE_PRETOKEN_RE}'))) AS BIGINT) AS n_pretokens,
                   CAST(sum(length(text)) AS BIGINT) AS n_chars,
                   CAST((10000 * sum(len(regexp_extract_all(text,
                        '{textstats.BPE_PRETOKEN_RE}'))))
                        // sum(len({TOKS})) AS BIGINT) AS fertility_bp,
                   CAST((10000 * sum(length(text)))
                        // sum(len(regexp_extract_all(text,
                           '{textstats.BPE_PRETOKEN_RE}'))) AS BIGINT)
                       AS chars_per_pretoken_bp
            FROM documents GROUP BY lang ORDER BY lang
        """),
    # per-doc n-gram novelty vs everything ingested before it (the
    # marginal-value / memorization-risk stat; ordered via min(doc_id))
    # novelty: shared SHINGLES stream, first-seen = min(doc_id),
    # integer-bp marginal fraction
    Face("t_novelty", lambda s, d: textstats.ngram_novelty(read_docs(s, d)),
         f"""
            WITH sh AS (
                SELECT doc_id, unnest(list_distinct({SHINGLES})) AS s
                FROM documents
            ), fs AS (
                SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s
            ), per AS (
                SELECT sh.doc_id,
                       CAST(count(*) AS BIGINT) AS n_shingles,
                       CAST(sum(CASE WHEN fs.first_doc = sh.doc_id
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
                FROM sh JOIN fs USING (s) GROUP BY sh.doc_id
            )
            SELECT doc_id, n_shingles, n_novel,
                   CAST((10000 * n_novel) // n_shingles AS BIGINT) AS novelty_bp
            FROM per ORDER BY doc_id
        """),
    # Heaps-law vocabulary growth: distinct types per ingest prefix —
    # one vocab-key min-groupBy, then K-row ladder histograms + cumsums
    # Heaps-law growth: prefix i = docs with doc_id*K < i*N (pure
    # integer rule, N = max+1); per-term min(doc_id) bucketed into the
    # K-row ladder, cumulative sums over the ladder only
    Face("t_vocab_growth",
         lambda s, d: textstats.vocab_growth(read_docs(s, d)),
         f"""
            WITH n AS (SELECT max(doc_id) + 1 AS nn FROM documents),
            ladder AS (SELECT CAST(unnest(range(1, {textstats.VG_CHECKPOINTS} + 1)) AS INT) AS ckpt),
            pd AS (
                SELECT (doc_id * {textstats.VG_CHECKPOINTS}) // nn + 1 AS b,
                       count(*) AS nd, sum(len({TOKS})) AS nt
                FROM documents, n GROUP BY 1
            ),
            fs AS (
                SELECT term, min(doc_id) AS fsd FROM (
                    SELECT doc_id,
                           unnest(list_transform({TOKS}, t -> lower(t))) AS term
                    FROM documents)
                GROUP BY term
            ),
            vb AS (
                SELECT (fsd * {textstats.VG_CHECKPOINTS}) // nn + 1 AS b,
                       count(*) AS nv
                FROM fs, n GROUP BY 1
            )
            SELECT ckpt,
                   CAST(sum(coalesce(nd, 0)) OVER (ORDER BY ckpt) AS BIGINT) AS n_docs,
                   CAST(sum(coalesce(nt, 0)) OVER (ORDER BY ckpt) AS BIGINT) AS n_tokens,
                   CAST(sum(coalesce(nv, 0)) OVER (ORDER BY ckpt) AS BIGINT) AS vocab
            FROM ladder
            LEFT JOIN pd ON pd.b = ladder.ckpt
            LEFT JOIN vb ON vb.b = ladder.ckpt
            ORDER BY ckpt
        """),
    # Zipf rank-frequency audit: type/token ladder per log2-frequency
    # bucket (floor-log2 bits doctrine), integer-bp token shares
    # Zipf audit: identical freq table + floor-log2 bucket, integer-bp
    # token shares over the corpus total
    Face("t_zipf_buckets",
         lambda s, d: textstats.zipf_buckets(read_docs(s, d)),
         f"""
            WITH toks AS (
                SELECT unnest(list_transform({TOKS}, t -> lower(t))) AS term
                FROM documents
            ), freq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM toks GROUP BY term
            ), b AS (
                SELECT CAST(length(bin(c)) - 1 AS BIGINT) AS log2_count, c
                FROM freq
            ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM b)
            SELECT log2_count,
                   CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   CAST(min(c) AS BIGINT) AS min_count,
                   CAST(max(c) AS BIGINT) AS max_count,
                   CAST((10000 * sum(c)) // n_total AS BIGINT)
                       AS token_share_bp
            FROM b CROSS JOIN tot
            GROUP BY log2_count, n_total ORDER BY log2_count
        """),
    Face("t_lang_id", lambda s, d: textstats.lang_id(read_docs(s, d)), f"""
            SELECT doc_id,
                   {word_hits(EN)} AS en_hits,
                   {word_hits(_ES)} AS es_hits,
                   {word_hits(_FR)} AS fr_hits,
                   {word_hits(_DE)} AS de_hits,
                   {_PRED_LANG_CASE} AS predicted_lang
            FROM documents ORDER BY doc_id
        """),
    # declared-vs-detected confusion audit (zero-join: prediction is
    # the same in-scan Column lang_id uses)
    # declared-vs-detected confusion audit: same prediction CASE, one
    # groupBy onto the |langs|^2 dim
    Face("t_lang_mismatch",
         lambda s, d: textstats.lang_mismatch_audit(
             read_docs(s, d)
         ),
         f"""
            WITH m AS (
                SELECT lang AS declared_lang,
                       {_PRED_LANG_CASE} AS predicted_lang
                FROM documents
            )
            SELECT declared_lang, predicted_lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   declared_lang <> predicted_lang AS mismatch
            FROM m GROUP BY declared_lang, predicted_lang
            ORDER BY declared_lang, predicted_lang
        """),
    # unicode-script distribution over injected multilingual samples
    # script distribution: identical literal-range patterns (shared
    # SCRIPT_RANGES constants) over the same injected samples; the
    # dominant-script CASE mirrors the Spark comparisons exactly
    Face("t_script_stats",
         lambda s, d: textstats.script_stats(
             textstats.with_script_mix(read_docs(s, d))
         ),
         f"""
            WITH inj AS (
                SELECT doc_id, CASE doc_id % 5
                    WHEN 1 THEN text || ' {textstats.SCRIPT_SAMPLES["cyrillic"]}'
                    WHEN 2 THEN text || ' {textstats.SCRIPT_SAMPLES["arabic"]}'
                    WHEN 3 THEN text || ' {textstats.SCRIPT_SAMPLES["cjk"]}'
                    WHEN 4 THEN text || ' {textstats.SCRIPT_SAMPLES["hangul"]}'
                    ELSE text END AS t
                FROM documents
            ), c AS (
                SELECT doc_id,
                    CAST(len(regexp_extract_all(t, '{textstats.SCRIPT_RANGES["latin"]}')) AS BIGINT) AS la,
                    CAST(len(regexp_extract_all(t, '{textstats.SCRIPT_RANGES["cyrillic"]}')) AS BIGINT) AS cy,
                    CAST(len(regexp_extract_all(t, '{textstats.SCRIPT_RANGES["arabic"]}')) AS BIGINT) AS ar,
                    CAST(len(regexp_extract_all(t, '{textstats.SCRIPT_RANGES["cjk"]}')) AS BIGINT) AS cj,
                    CAST(len(regexp_extract_all(t, '{textstats.SCRIPT_RANGES["hangul"]}')) AS BIGINT) AS ha
                FROM inj
            )
            SELECT doc_id, la AS latin_chars, cy AS cyrillic_chars,
                   ar AS arabic_chars, cj AS cjk_chars, ha AS hangul_chars,
                   CASE
                     WHEN cy > la AND cy >= ar AND cy >= cj AND cy >= ha THEN 'cyrillic'
                     WHEN ar > la AND ar > cy AND ar >= cj AND ar >= ha THEN 'arabic'
                     WHEN cj > la AND cj > cy AND cj > ar AND cj >= ha THEN 'cjk'
                     WHEN ha > la AND ha > cy AND ha > ar AND ha > cj THEN 'hangul'
                     ELSE 'latin' END AS dominant_script
            FROM c ORDER BY doc_id
        """),
    # unigram-LM surprisal + CCNet head/middle/tail value-terciles
    # (exact integer bits via bin()-length, no log/float anywhere)
    # unigram-LM surprisal: Laplace-smoothed integer quotient, bits =
    # length(bin(q)) - 1 (bin() exists in both engines, so the floored
    # log2 is byte-identical), terciles via the quality_tiers value
    # histogram; // is DuckDB's floor-div twin of Spark's div (all
    # terms positive)
    Face("t_surprisal", lambda s, d: textstats.lm_surprisal(read_docs(s, d)),
         f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_transform({TOKS}, t -> lower(t))) AS term
                FROM documents
            ), ucnt AS (
                SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM toks WHERE doc_id % {textstats.SURPRISAL_REF_MOD} = 0
                GROUP BY term
            ), model AS (
                SELECT CAST(sum(c) AS BIGINT) AS n_model,
                       CAST(count(*) AS BIGINT) AS v_model
                FROM ucnt
            ), scored_tok AS (
                SELECT t.doc_id,
                       CAST(length(bin(greatest(
                           (m.n_model + m.v_model) // (coalesce(u.c, 0) + 1),
                           1))) - 1 AS BIGINT) AS b,
                       CASE WHEN u.c IS NULL THEN 1 ELSE 0 END AS oov
                FROM toks t
                LEFT JOIN ucnt u USING (term)
                CROSS JOIN model m
            ), per_doc AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_toks,
                       CAST(sum(oov) AS BIGINT) AS n_oov,
                       CAST(sum(b) AS BIGINT) AS bits_sum
                FROM scored_tok GROUP BY doc_id
            ), sc AS (
                SELECT doc_id, n_toks, n_oov, bits_sum,
                       CAST((100 * bits_sum) // n_toks AS BIGINT) AS mean_cb
                FROM per_doc
            ), hist AS (
                SELECT mean_cb, count(*) AS cnt FROM sc GROUP BY mean_cb
            ), tiers AS (
                SELECT mean_cb,
                       sum(cnt) OVER (ORDER BY mean_cb ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - cnt AS cum_before,
                       sum(cnt) OVER () AS total
                FROM hist
            ), tmap AS (
                SELECT mean_cb,
                       least({textstats.SURPRISAL_TIERS} - 1,
                             CAST(({textstats.SURPRISAL_TIERS} * cum_before) // total
                                  AS BIGINT)) AS tier
                FROM tiers
            )
            SELECT s.doc_id, s.n_toks, s.n_oov, s.bits_sum, s.mean_cb,
                   CASE t.tier WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sc s JOIN tmap t USING (mean_cb)
            ORDER BY s.doc_id
        """),
    # Naive-Bayes wiki-vs-crawl quality classifier (CCNet §4.3 /
    # fastText's linear filter in closed form): per-class floor-log2
    # bits, margin = bits_neg - bits_pos, keep when >= 0 — all BIGINT
    # NB classifier: both class LMs re-derived from the seed-slice
    # formulas (every constant interpolated from the module), same
    # shared-vocab Laplace floor-log2 bits, same >=0 keep rule
    Face("t_nb_classifier",
         lambda s, d: textstats.nb_quality_classifier(
             read_docs(s, d)
         ),
         f"""
            WITH {_nb_cte}
            SELECT doc_id, n_toks, n_oov, bits_pos, bits_neg, margin, label
            FROM nbout ORDER BY doc_id
        """),
    # NB-vs-heuristic-gate calibration confusion matrix
    # NB-vs-heuristic calibration: the classifier's label crossed with
    # the hard gate's verdict, counts + integer-bp corpus shares
    Face("t_filter_agreement",
         lambda s, d: textstats.filter_agreement(
             read_docs(s, d)
         ),
         f"""
            WITH {gate_cte_for("documents")},
            {_nb_cte},
            cells AS (
                SELECT n.label, (g.reasons = '') AS passed,
                       CAST(count(*) AS BIGINT) AS n_docs
                FROM nbout n JOIN gated g USING (doc_id)
                GROUP BY 1, 2
            ), tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM cells)
            SELECT label AS nb_label, passed AS gate_passed, n_docs,
                   CAST((10000 * n_docs) // n_total AS BIGINT) AS share_bp
            FROM cells CROSS JOIN tot
            ORDER BY nb_label, gate_passed
        """),
    Face("t_quality_score",
         lambda s, d: textstats.quality_score(read_docs(s, d)),
         f"""
            SELECT doc_id,
                   CAST(len({TOKS}) AS BIGINT) AS n_tokens,
                   round(length(regexp_replace(text, '\\s+', '', 'g')) / len({TOKS}), 4) AS mean_word_len,
                   round({word_hits(EN)} / 10.0, 4) AS stopword_ratio,
                   {quality_sql()} AS quality
            FROM documents ORDER BY doc_id
        """),
    # Gopher filter battery (Rae et al. 2021 App. A): one verdict column
    # per published rule over the synthetic multi-line text (single-line
    # documents.text would degenerate the two line rules)
    # Gopher rules: same synthetic multi-line text as c_line_dedup;
    # every ratio compares as cross-multiplied integers and every
    # threshold/regex interpolates from the textstats constants
    # (anti-drift) — a rule-formula change that misses either engine
    # fails this hash
    Face("t_gopher_rules",
         lambda s, d: textstats.gopher_rules(
             curation.with_synthetic_lines(read_docs(s, d)), text_col="text_multi"
         ),
         f"""
            WITH multi AS (
                SELECT doc_id, array_to_string({lines_sql}, chr(10)) AS tm,
                       {lines_sql} AS ls
                FROM documents
            ), t AS (
                SELECT doc_id, tm, ls,
                       regexp_split_to_array(trim(tm), '\\s+') AS toks
                FROM multi
            ), c AS (
                SELECT doc_id,
                       CAST(len(toks) AS BIGINT) AS n_words,
                       CAST(len(ls) AS BIGINT) AS n_lines,
                       CAST(length(regexp_replace(tm, '\\s+', '', 'g')) AS BIGINT) AS word_chars,
                       CAST(len(regexp_extract_all(tm, '{textstats.GOPHER_SYMBOL_RE}')) AS BIGINT) AS n_symbols,
                       CAST(len(list_filter(ls, l -> substr(ltrim(l), 1, 1) IN ('•', '-', '*'))) AS BIGINT) AS n_bullet_lines,
                       CAST(len(list_filter(ls, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS BIGINT) AS n_ellipsis_lines,
                       CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
                       CAST(len(list_intersect(list_transform(toks, x -> lower(x)), {list(textstats.GOPHER_STOPWORDS)})) AS BIGINT) AS stop_hits
                FROM t
            )
            SELECT doc_id, n_words, n_lines, n_symbols, n_bullet_lines,
                   n_ellipsis_lines, n_alpha_words, stop_hits,
                   (n_words >= {textstats.GOPHER_MIN_WORDS} AND n_words <= {textstats.GOPHER_MAX_WORDS}) AS ok_word_count,
                   (word_chars >= {textstats.GOPHER_MIN_MEAN_WORD_LEN} * n_words AND word_chars <= {textstats.GOPHER_MAX_MEAN_WORD_LEN} * n_words) AS ok_mean_word_len,
                   (n_symbols * 10 <= n_words) AS ok_symbol_ratio,
                   (n_bullet_lines * 10 <= n_lines * 9) AS ok_bullet_lines,
                   (n_ellipsis_lines * 10 <= n_lines * 3) AS ok_ellipsis_lines,
                   (n_alpha_words * 10 >= n_words * 8) AS ok_alpha_words,
                   (stop_hits >= {textstats.GOPHER_MIN_STOP_HITS}) AS ok_stopwords,
                   ((n_words >= {textstats.GOPHER_MIN_WORDS} AND n_words <= {textstats.GOPHER_MAX_WORDS})
                    AND (word_chars >= {textstats.GOPHER_MIN_MEAN_WORD_LEN} * n_words AND word_chars <= {textstats.GOPHER_MAX_MEAN_WORD_LEN} * n_words)
                    AND (n_symbols * 10 <= n_words)
                    AND (n_bullet_lines * 10 <= n_lines * 9)
                    AND (n_ellipsis_lines * 10 <= n_lines * 3)
                    AND (n_alpha_words * 10 >= n_words * 8)
                    AND (stop_hits >= {textstats.GOPHER_MIN_STOP_HITS})) AS passes
            FROM c ORDER BY doc_id
        """),
    # C4 cleaning battery (Raffel et al. 2020 §2.2): line-granular keep/
    # drop + page verdicts over synthetic lines that exercise every rule
    # on coprime doc_id moduli; kept_md5 pins the byte-exact cleaned text
    # C4 battery: synthetic rule-exercising lines (literal twin of
    # with_c4_lines), line-keep lambda + page verdicts re-derived with
    # every threshold/phrase interpolated from the textstats constants
    # (anti-drift); kept_md5 hashes the byte-exact surviving text
    Face("t_c4_rules",
         lambda s, d: textstats.c4_rules(
             curation.with_c4_lines(read_docs(s, d)), text_col="text_c4"
         ),
         f"""
            WITH lsrc AS (
                SELECT doc_id, {_c4_lines_sql} AS ls,
                       array_to_string({_c4_lines_sql}, chr(10)) AS tm
                FROM documents
            ), k AS (
                SELECT doc_id, ls, tm,
                       list_filter(ls, l ->
                           ({" OR ".join(
                               "ends_with(rtrim(l), '%s')" % p
                               for p in textstats.C4_TERMINAL_PUNCT)})
                           AND len(list_filter(
                                   regexp_split_to_array(trim(l), '\\s+'),
                                   x -> x <> '')) >= {textstats.C4_MIN_LINE_WORDS}
                           AND NOT contains(lower(l), 'javascript')
                           {" ".join(
                               "AND NOT contains(lower(l), '%s')" % ph
                               for ph in textstats.C4_POLICY_PHRASES)}
                       ) AS kept
                FROM lsrc
            ), c AS (
                SELECT doc_id,
                       CAST(len(ls) AS BIGINT) AS n_lines,
                       CAST(len(kept) AS BIGINT) AS n_kept,
                       coalesce(array_to_string(kept, chr(10)), '') AS kt,
                       tm,
                       regexp_split_to_array(trim(tm), '\\s+') AS toks
                FROM k
            ), v AS (
                SELECT doc_id, n_lines, n_kept,
                       CAST(len(regexp_extract_all(kt, '{textstats.C4_SENTENCE_END_RE}')) AS BIGINT) AS n_sentences,
                       NOT contains(lower(tm), 'lorem ipsum') AS ok_lorem,
                       NOT contains(tm, '{{') AS ok_brace,
                       (len(list_intersect(list_transform(toks, x -> lower(x)),
                            {list(textstats.C4_BAD_WORDS)})) = 0) AS ok_badword,
                       md5(kt) AS kept_md5
                FROM c
            )
            SELECT doc_id, n_lines, n_kept, n_sentences,
                   (n_sentences >= {textstats.C4_MIN_SENTENCES}) AS ok_sentences,
                   ok_lorem, ok_brace, ok_badword,
                   ((n_sentences >= {textstats.C4_MIN_SENTENCES})
                    AND ok_lorem AND ok_brace AND ok_badword) AS passes,
                   kept_md5
            FROM v ORDER BY doc_id
        """),
    Face("t_fingerprint", lambda s, d: textstats.fingerprint(read_docs(s, d)),
         """
            SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents ORDER BY doc_id
        """),
    # exact per-source token-length quantiles (rank-based, portable)
    # exact per-source length quantiles: identical rank arithmetic
    # (ceil via (p*n+99)//100 — non-negative, so DuckDB floor division
    # and Spark truncating div agree)
    Face("t_length_quantiles",
         lambda s, d: textstats.length_quantiles(
             read_docs(s, d)
         ),
         f"""
            WITH toks AS (
                SELECT doc_id, source,
                       CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                            AS BIGINT) AS v
                FROM documents
            ), ranked AS (
                SELECT source, v,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY v, doc_id) AS rn,
                       count(*) OVER (PARTITION BY source) AS n_docs
                FROM toks
            )
            SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
                   {", ".join(
                       f"CAST(max(CASE WHEN rn = ({p} * n_docs + 99) // 100 "
                       f"THEN v END) AS BIGINT) AS p{p}"
                       for p in textstats.QUANTILE_PCTS
                   )}
            FROM ranked GROUP BY source ORDER BY source
        """),
    # capped inverted index: per-term df + top-k postings by tf
    # capped inverted index: tf per (term, doc), df filter, per-term
    # top-k postings with the (tf desc, doc asc) tie-break, postings
    # string re-built in rank order
    Face("t_inverted_index",
         lambda s, d: textstats.inverted_index(
             read_docs(s, d)
         ),
         f"""
            WITH tf AS (
                SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
                FROM (
                    SELECT doc_id,
                           unnest(list_filter(
                               regexp_split_to_array(trim(text), '\\s+'),
                               w -> w <> '')) AS term
                    FROM documents
                ) GROUP BY term, doc_id
            ), ranked AS (
                SELECT term, doc_id, tf,
                       count(*) OVER (PARTITION BY term) AS dfreq,
                       row_number() OVER (PARTITION BY term
                                          ORDER BY tf DESC, doc_id ASC) AS rn
                FROM tf
            )
            SELECT term, CAST(dfreq AS BIGINT) AS dfreq,
                   string_agg(doc_id || ':' || tf, '|' ORDER BY rn)
                       AS postings
            FROM ranked
            WHERE dfreq >= {textstats.INDEX_MIN_DF} AND rn <= {textstats.INDEX_POSTINGS_K}
            GROUP BY term, dfreq ORDER BY term
        """),
    # BPE merge induction over the word-frequency dict (fit-small
    # argmax per iteration, JVM aggregate() fold for the merge)
    # BPE merges: the K argmax/merge stages unrolled; rank, the merged
    # pair, and its weighted count must all match
    Face("t_bpe_merges", lambda s, d: textstats.bpe_merges(read_docs(s, d)),
         _bpe_cte + " ".join(
            ("SELECT CAST(%d AS BIGINT) AS rank, l AS \"left\", "
             "r AS \"right\", CAST(cnt AS BIGINT) AS pair_count FROM b%d"
             % (_k, _k))
            + (" UNION ALL" if _k < textstats.BPE_MERGES else " ORDER BY rank")
            for _k in range(1, textstats.BPE_MERGES + 1)
        )),
    # tokenizer apply: per-doc symbol counts under the learned merges
    # apply face: train's b{k} selections drive a word-carrying twin
    # chain; per-doc symbol counts via the vocab map join
    Face("t_bpe_apply", lambda s, d: textstats.bpe_apply(read_docs(s, d)),
         _bpe_apply_sql),
    # PRODUCTION fit (r3 verdict item 2): one corpus word-count pass,
    # all k merge rounds driver-side over the frequency-capped head —
    # hash-checked against the SAME oracle as the distributed trainer
    # the production driver-local fit/apply must land on the SAME
    # artifacts as the distributed fold (cap covers the demo vocab),
    # so they share the distributed faces' oracles verbatim
    Face("t_bpe_merges_localfit",
         lambda s, d: textstats.bpe_merges_local(
             read_docs(s, d)
         ),
         _bpe_cte + " ".join(
            ("SELECT CAST(%d AS BIGINT) AS rank, l AS \"left\", "
             "r AS \"right\", CAST(cnt AS BIGINT) AS pair_count FROM b%d"
             % (_k, _k))
            + (" UNION ALL" if _k < textstats.BPE_MERGES else " ORDER BY rank")
            for _k in range(1, textstats.BPE_MERGES + 1)
        )),
    # production apply: broadcast merge table, one Arrow pass over
    # DISTINCT words, vocab-map join — same oracle as t_bpe_apply
    Face("t_bpe_apply_localfit",
         lambda s, d: textstats.bpe_apply_local(
             read_docs(s, d)
         ),
         _bpe_apply_sql),
    # crawl-cycle drift monitor: hashed-token share deltas between the
    # two deterministic snapshots, top movers by |delta| in bp
    # snapshot token-distribution drift: membership/revision formulas
    # interpolated from operators/snapshot.py, bucket/scale/top-k from
    # textstats — integer shares per side, top movers by |delta|
    Face("t_token_drift",
         lambda s, d: textstats.token_drift(
             *textstats.drift_snapshots(read_docs(s, d))
         ),
         f"""
            WITH old_docs AS (
                SELECT text FROM documents WHERE doc_id % {SN.OLD_MOD} = 0
            ), new_docs AS (
                SELECT CASE WHEN doc_id % {SN.REV_MOD} = 0
                            THEN text || ' [rev]' ELSE text END AS text
                FROM documents WHERE doc_id % {SN.NEW_MOD} <> {SN.NEW_MOD - 1}
            ), toks AS (
                SELECT 'old' AS side, unnest(list_filter(
                    regexp_split_to_array(trim(text), '\\s+'), w -> w <> ''))
                    AS w FROM old_docs
                UNION ALL
                SELECT 'new', unnest(list_filter(
                    regexp_split_to_array(trim(text), '\\s+'), w -> w <> ''))
                FROM new_docs
            ), dim AS (
                SELECT {H32.format(x='w')} % {textstats.DRIFT_BUCKETS} AS bucket,
                       sum(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS old_n,
                       sum(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS new_n
                FROM toks GROUP BY 1
            ), shares AS (
                SELECT bucket, old_n, new_n,
                       (old_n * {textstats.DRIFT_SCALE}) // sum(old_n) OVER () AS old_bp,
                       (new_n * {textstats.DRIFT_SCALE}) // sum(new_n) OVER () AS new_bp
                FROM dim
            ), ranked AS (
                SELECT bucket, old_n, new_n, old_bp, new_bp,
                       new_bp - old_bp AS delta_bp,
                       row_number() OVER (ORDER BY abs(new_bp - old_bp) DESC,
                                          bucket ASC) AS mover_rank
                FROM shares
            )
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST(old_n AS BIGINT) AS old_n,
                   CAST(new_n AS BIGINT) AS new_n,
                   CAST(old_bp AS BIGINT) AS old_bp,
                   CAST(new_bp AS BIGINT) AS new_bp,
                   CAST(delta_bp AS BIGINT) AS delta_bp
            FROM ranked WHERE mover_rank <= {textstats.DRIFT_TOP_K}
            ORDER BY abs(delta_bp) DESC, bucket
        """),
    Face("t_winnow_fp",
         lambda s, d: textstats.winnow_fingerprint(read_docs(s, d)),
         f"""
            WITH sh AS (
                SELECT doc_id, {SHINGLES} AS shingles FROM documents
            ), pos AS (
                SELECT doc_id,
                       unnest(shingles) AS s,
                       generate_subscripts(shingles, 1) AS pos,
                       len(shingles) AS n_sh
                FROM sh
            ), hashed AS (
                SELECT doc_id, pos, n_sh, {H32.format(x='s')} AS h FROM pos
            ), wmin AS (
                SELECT doc_id, pos, n_sh,
                       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
                FROM hashed
            )
            SELECT DISTINCT doc_id, fp FROM wmin
            WHERE pos <= greatest(n_sh - 3, 1)
            ORDER BY doc_id, fp
        """),
    # the pre-token regex and its three alternation legs interpolate
    # from textstats.BPE_PRETOKEN_RE (anti-drift)
    Face("t_token_count_bpe",
         lambda s, d: textstats.bpe_token_count(read_docs(s, d)),
         f"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{textstats.BPE_PRETOKEN_RE}')) AS BIGINT) AS n_bpe_tokens,
                   CAST(len(regexp_extract_all(text, '{textstats.BPE_PRETOKEN_RE.split("|")[0]}')) AS BIGINT) AS n_word_runs,
                   CAST(len(regexp_extract_all(text, '{textstats.BPE_PRETOKEN_RE.split("|")[1]}')) AS BIGINT) AS n_number_runs,
                   CAST(len(regexp_extract_all(text, '{textstats.BPE_PRETOKEN_RE.split("|")[2]}')) AS BIGINT) AS n_symbol_runs
            FROM documents ORDER BY doc_id
        """),
    Face("t_quality_gate",
         lambda s, d: textstats.quality_gate(read_docs(s, d)),
         f"""
            WITH {gate_cte_for("documents")}
            SELECT doc_id, (reasons = '') AS passed, reasons
            FROM gated ORDER BY doc_id
        """),
    # Gopher repetition family: duplicate line/paragraph (character)
    # fractions + top-2-gram coverage, all exact BIGINT counters and an
    # integer-cross-multiplied gate (thresholds in operators.textstats)
    Face("t_repetition",
         lambda s, d: textstats.repetition_stats(read_docs(s, d)),
         f"""
            WITH lb AS (
                SELECT doc_id, trim(b) AS block
                FROM documents, unnest(regexp_split_to_array(text, '\\n')) AS t(b)
                WHERE trim(b) <> ''
            ), lg AS (
                SELECT doc_id, block, count(*) AS cnt, length(block) AS blen
                FROM lb GROUP BY doc_id, block
            ), ls AS (
                SELECT doc_id,
                       CAST(sum(cnt) AS BIGINT) AS n_lines,
                       CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_lines,
                       CAST(sum(cnt * blen) AS BIGINT) AS lines_chars,
                       CAST(sum(CASE WHEN cnt >= 2 THEN cnt * blen ELSE 0 END) AS BIGINT) AS dup_lines_chars
                FROM lg GROUP BY doc_id
            ), pb AS (
                SELECT doc_id, trim(b) AS block
                FROM documents, unnest(regexp_split_to_array(text, '\\n{{2,}}')) AS t(b)
                WHERE trim(b) <> ''
            ), pg AS (
                SELECT doc_id, block, count(*) AS cnt, length(block) AS blen
                FROM pb GROUP BY doc_id, block
            ), ps AS (
                SELECT doc_id,
                       CAST(sum(cnt) AS BIGINT) AS n_paras,
                       CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_paras,
                       CAST(sum(cnt * blen) AS BIGINT) AS paras_chars,
                       CAST(sum(CASE WHEN cnt >= 2 THEN cnt * blen ELSE 0 END) AS BIGINT) AS dup_paras_chars
                FROM pg GROUP BY doc_id
            ), toks AS (
                SELECT doc_id, {TOKS} AS t FROM documents
            ), grams AS (
                SELECT doc_id, array_to_string(t[i:i+1], ' ') AS gram
                FROM toks, unnest(range(1, len(t))) AS r(i)
                WHERE len(t) >= 2
            ), gg AS (
                SELECT doc_id, gram, count(*) AS cnt
                FROM grams GROUP BY doc_id, gram
            ), top2 AS (
                SELECT doc_id,
                       CAST(cnt AS BIGINT) AS top2_count,
                       CAST(cnt * length(gram) AS BIGINT) AS top2_chars
                FROM gg
                QUALIFY row_number() OVER (
                    PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) = 1
            ), base AS (
                SELECT doc_id,
                       CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS nws_chars
                FROM documents
            ), joined AS (
                SELECT base.doc_id,
                       COALESCE(n_lines, 0) AS n_lines,
                       COALESCE(n_dup_lines, 0) AS n_dup_lines,
                       COALESCE(dup_lines_chars, 0) AS dup_lines_chars,
                       COALESCE(lines_chars, 0) AS lines_chars,
                       COALESCE(n_paras, 0) AS n_paras,
                       COALESCE(n_dup_paras, 0) AS n_dup_paras,
                       COALESCE(dup_paras_chars, 0) AS dup_paras_chars,
                       COALESCE(paras_chars, 0) AS paras_chars,
                       COALESCE(top2_count, 0) AS top2_count,
                       COALESCE(top2_chars, 0) AS top2_chars,
                       nws_chars
                FROM base
                LEFT JOIN ls ON base.doc_id = ls.doc_id
                LEFT JOIN ps ON base.doc_id = ps.doc_id
                LEFT JOIN top2 ON base.doc_id = top2.doc_id
            )
            SELECT *, (n_dup_lines * 100 <= n_lines * {textstats.REP_MAX_DUP_LINE_PCT}
                   AND dup_lines_chars * 100 <= lines_chars * {textstats.REP_MAX_DUP_LINE_CHAR_PCT}
                   AND n_dup_paras * 100 <= n_paras * {textstats.REP_MAX_DUP_PARA_PCT}
                   AND dup_paras_chars * 100 <= paras_chars * {textstats.REP_MAX_DUP_PARA_CHAR_PCT}
                   AND top2_chars * 100 <= nws_chars * {textstats.REP_MAX_TOP2GRAM_CHAR_PCT}) AS rep_passed
            FROM joined ORDER BY doc_id
        """),
    # corpus vocabulary report: top-10 terms per language
    Face("t_top_terms", lambda s, d: textstats.top_terms(read_docs(s, d)),
         _TOP_TERMS_SQL),
    # CMS heavy hitters: mergeable d x w counter sketch, one-sided
    # guarantee hash-checked as exact integer verdicts
    # CMS heavy hitters: counters rebuilt from the distinct-term dim
    # with the same affine hash rows; min-over-rows estimate; the
    # one-sided guarantee as exact integer verdicts
    Face("t_cms_heavy_hitters",
         lambda s, d: textstats.cms_heavy_hitters(
             read_docs(s, d)
         ),
         f"""
            WITH ctoks AS (
                SELECT unnest({TOKS}) AS term FROM documents
            ), ccounts AS (
                SELECT term, count(*) AS cnt FROM ctoks GROUP BY term
            ), cpar AS (
                SELECT * FROM (VALUES {", ".join(
                    f"({i}, {a}, {b})"
                    for i, (a, b) in enumerate(textstats.CMS_PARAMS)
                )}) p(row_i, a, b)
            ), cbk AS (
                SELECT c.term, c.cnt, p.row_i,
                       ((p.a * {H32.format(x='c.term')} + p.b)
                        % 4294967296) % {textstats.CMS_W} AS bucket
                FROM ccounts c CROSS JOIN cpar p
            ), ccells AS (
                SELECT row_i, bucket, sum(cnt) AS cell
                FROM cbk GROUP BY row_i, bucket
            ), cest AS (
                SELECT b.term, b.cnt, min(l.cell) AS cms_est
                FROM cbk b JOIN ccells l
                  ON l.row_i = b.row_i AND l.bucket = b.bucket
                GROUP BY b.term, b.cnt
            ), ctot AS (SELECT sum(cnt) AS n FROM ccounts),
            ctop AS (
                SELECT * FROM cest ORDER BY cnt DESC, term
                LIMIT {textstats.CMS_TOPK}
            )
            SELECT term, CAST(cnt AS BIGINT) AS true_count,
                   CAST(cms_est AS BIGINT) AS cms_est,
                   CAST(cms_est - cnt AS BIGINT) AS overcount,
                   (cms_est - cnt) * {textstats.CMS_W}
                       <= {textstats.CMS_EPS_NUM} * n AS within_eps
            FROM ctop, ctot ORDER BY true_count DESC, term
        """),
    # skew-proof two-phase top-k: salted candidate windows AFTER the
    # global count — exact by construction, same oracle as t_top_terms
    Face("t_top_terms_2p",
         lambda s, d: textstats.top_terms_two_phase(
             read_docs(s, d)
         ),
         _TOP_TERMS_SQL),
    # PMI collocations: bound pairs raw frequency buries — exact
    # integer ppm ranking, no floats/logs anywhere
    # PMI collocations: the same token stream as t_top_terms, bigrams
    # from 1-based index windows (range is end-exclusive, so i and i+1
    # stay in bounds), the SAME exact-ppm formula with interpolated
    # floor/k constants; // is DuckDB's floor-div twin of Spark's div
    # (all terms positive, so floor == truncate)
    Face("t_collocations",
         lambda s, d: textstats.pmi_collocations(read_docs(s, d)),
         f"""
            WITH ex AS (
                SELECT list_transform({TOKS}, t -> lower(t)) AS w
                FROM documents
            ), ucnt AS (
                SELECT term, CAST(count(*) AS BIGINT) AS c
                FROM (SELECT unnest(w) AS term FROM ex) GROUP BY term
            ), n AS (
                SELECT CAST(sum(c) AS BIGINT) AS n_total FROM ucnt
            ), bi AS (
                SELECT unnest(list_transform(range(1, len(w)),
                    i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS p
                FROM ex WHERE len(w) >= 2
            ), bcnt AS (
                SELECT p.w1 AS w1, p.w2 AS w2,
                       CAST(count(*) AS BIGINT) AS c_xy
                FROM bi GROUP BY 1, 2
                HAVING count(*) >= {textstats.COLLOC_MIN_COUNT}
            ), scored AS (
                SELECT b.w1, b.w2, b.c_xy,
                       CAST((1000000 * b.c_xy * (SELECT n_total FROM n))
                            // (x.c * y.c) AS BIGINT) AS pmi_ppm
                FROM bcnt b
                JOIN ucnt x ON b.w1 = x.term
                JOIN ucnt y ON b.w2 = y.term
            )
            SELECT w1, w2, c_xy, pmi_ppm,
                   CAST(row_number() OVER (
                       ORDER BY pmi_ppm DESC, w1, w2) AS BIGINT) AS rank
            FROM scored
            QUALIFY rank <= {textstats.COLLOC_K}
            ORDER BY rank
        """),
    # the release datasheet: per-(source, lang) docs/tokens/dup rollup
    # per-(source, lang) datasheet: exact BIGINT rollups incl. the
    # whitespace-normalized distinct-content count and dup basis points
    Face("t_datasheet",
         lambda s, d: textstats.corpus_datasheet(read_docs(s, d)),
         f"""
            SELECT source, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({TOKS})) AS BIGINT) AS n_tokens,
                   CAST(sum(len({TOKS})) // count(*) AS BIGINT) AS mean_tokens,
                   CAST(count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS BIGINT) AS n_distinct,
                   CAST(((count(*) - count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))))) * 10000) // count(*) AS BIGINT) AS dup_bp
            FROM documents GROUP BY source, lang ORDER BY source, lang
        """),
    # 10^12 face: HLL distinct instead of the exact fingerprint shuffle.
    # HLL++ register layouts are engine-specific so the sketch VALUE
    # can't cross-engine compare — the registered face is the BAND
    # VERDICT (r3 item 3): exact columns + hll_within_band boolean,
    # which the oracle recomputes/asserts, so the row hash-checks
    # band-verdict face of the HLL datasheet: the oracle recomputes the
    # exact columns and ASSERTS the band verdict — if Spark's HLL count
    # ever drifts past max(2, 5 x RSD x exact) the boolean flips and
    # the row hash-mismatches (the sketch VALUE itself never crosses
    # engines; r3 verdict item 3)
    Face("t_datasheet_approx",
         lambda s, d: textstats.corpus_datasheet_audit(
             read_docs(s, d)
         ),
         f"""
            SELECT source, lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({TOKS})) AS BIGINT) AS n_tokens,
                   CAST(sum(len({TOKS})) // count(*) AS BIGINT) AS mean_tokens,
                   CAST(count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))) AS BIGINT) AS n_distinct,
                   CAST(((count(*) - count(DISTINCT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))))) * 10000) // count(*) AS BIGINT) AS dup_bp,
                   TRUE AS hll_within_band
            FROM documents GROUP BY source, lang ORDER BY source, lang
        """),
    # sketch face of the exact quantiles (GK percentile_approx): same
    # doctrine — the registered face emits the exact quantiles plus
    # per-percentile in-envelope verdicts the oracle asserts TRUE
    # band-verdict face of the GK quantiles: exact quantiles + asserted
    # per-percentile in-envelope booleans (the sketch values stay
    # engine-side; a GK estimate outside its exact-neighbor envelope
    # flips a boolean and hash-mismatches; r3 verdict item 3)
    Face("t_length_quantiles_approx",
         lambda s, d: textstats.length_quantiles_audit(
             read_docs(s, d)
         ),
         f"""
            WITH toks AS (
                SELECT doc_id, source,
                       CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                            AS BIGINT) AS v
                FROM documents
            ), ranked AS (
                SELECT source, v,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY v, doc_id) AS rn,
                       count(*) OVER (PARTITION BY source) AS n_docs
                FROM toks
            )
            SELECT source, CAST(max(n_docs) AS BIGINT) AS n_docs,
                   {", ".join(
                       f"CAST(max(CASE WHEN rn = ({p} * n_docs + 99) // 100 "
                       f"THEN v END) AS BIGINT) AS p{p}"
                       for p in textstats.QUANTILE_PCTS
                   )},
                   TRUE AS p25_in, TRUE AS p50_in, TRUE AS p75_in,
                   TRUE AS p90_in, TRUE AS p99_in, TRUE AS monotone
            FROM ranked GROUP BY source ORDER BY source
        """),
    # per-doc keywords: all-integer TF-IDF ordering (df asc, tf desc)
    # per-doc keywords: rank-based tf-idf (ordering identical for any
    # monotone idf; integer keys survive the hash)
    Face("t_keywords", lambda s, d: textstats.doc_keywords(read_docs(s, d)),
         f"""
            WITH tf AS (
                SELECT doc_id, unnest(list_transform({TOKS}, t -> lower(t))) AS term
                FROM documents
            ), tfc AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM tf GROUP BY doc_id, term
            ), dfc AS (
                SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                FROM tfc GROUP BY term
            )
            SELECT doc_id, term, tf, df, kw_rank FROM (
                SELECT t.doc_id, t.term, t.tf, d.df,
                       CAST(row_number() OVER (
                           PARTITION BY t.doc_id
                           ORDER BY d.df ASC, t.tf DESC, t.term ASC
                       ) AS BIGINT) AS kw_rank
                FROM tfc t JOIN dfc d USING (term)
            ) x WHERE kw_rank <= 3
            ORDER BY doc_id, kw_rank
        """),
    # BM25 top-k retrieval: corpus-derived 2-term queries, exact-BIGINT
    # rational tf component (k1/b cleared by x1000T), single-ln idf
    # under the 4dp round — the ranked-search face of t_inverted_index
    Face("t_bm25", lambda s, d: textstats.bm25_topk(read_docs(s, d)), f"""
            WITH toks AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(list_transform({TOKS}, t -> lower(t))) AS term
                    FROM documents) u
                WHERE term <> ''
            ), tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, term
            ), dl AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
                FROM toks GROUP BY doc_id
            ), stats AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS t_tokens FROM dl
            ), dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ), qterms AS (
                SELECT CAST((rn + 1) // 2 AS BIGINT) AS query_id, rn, term, df
                FROM (
                    SELECT term, df,
                           row_number() OVER (ORDER BY df DESC, term ASC) AS rn
                    FROM dfreq) x
                WHERE rn <= 2 * {textstats.BM25_QUERIES}
            ), qdim AS (
                SELECT query_id, string_agg(term, ' ' ORDER BY rn) AS q_terms
                FROM qterms GROUP BY query_id
            ), scored AS (
                SELECT q.query_id, t.doc_id,
                       round(sum(
                           ln(1 + (2*s.n_docs - 2*q.df + 1) / (2*q.df + 1))
                           * ({textstats._BM25_NUM_C} * t.tf * s.t_tokens)
                           / (1000 * t.tf * s.t_tokens
                              + {textstats._BM25_DEN_T} * s.t_tokens
                              + {textstats._BM25_DEN_DL} * d.dl * s.n_docs)
                       ), 4) AS bm25
                FROM tf t JOIN qterms q USING (term)
                     JOIN dl d ON d.doc_id = t.doc_id
                     CROSS JOIN stats s
                GROUP BY q.query_id, t.doc_id
            )
            SELECT query_id, q_terms, doc_id, bm25, CAST(rank AS BIGINT) AS rank
            FROM (
                SELECT query_id, doc_id, bm25, row_number() OVER (
                    PARTITION BY query_id ORDER BY bm25 DESC, doc_id ASC) AS rank
                FROM scored) r JOIN qdim USING (query_id)
            WHERE rank <= {textstats.BM25_TOP_K}
            ORDER BY query_id, rank
        """),
    # labeled retrieval audit: rank of each query's SOURCE doc, exact
    # integer MRR components — shares _bm25_scores with t_bm25
    Face("t_bm25_mrr", lambda s, d: textstats.bm25_source_mrr(read_docs(s, d)),
         f"""
            WITH toks AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(list_transform({TOKS}, t -> lower(t))) AS term
                    FROM documents) u
                WHERE term <> ''
            ), tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, term
            ), dl AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
                FROM toks GROUP BY doc_id
            ), stats AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS t_tokens FROM dl
            ), dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
            ), lq AS (
                SELECT query_id, unnest(terms) AS term FROM (
                    SELECT doc_id AS query_id,
                           list_distinct(list_filter(
                               [lower(({TOKS})[3]), lower(({TOKS})[5])],
                               x -> x IS NOT NULL AND x <> '')) AS terms
                    FROM documents
                    WHERE doc_id % {textstats.BM25_MRR_MOD} = 0) b
            ), qt AS (
                SELECT q.query_id, q.term, d.df
                FROM lq q JOIN dfreq d USING (term)
            ), scored AS (
                SELECT q.query_id, t.doc_id,
                       round(sum(
                           ln(1 + (2*s.n_docs - 2*q.df + 1) / (2*q.df + 1))
                           * ({textstats._BM25_NUM_C} * t.tf * s.t_tokens)
                           / (1000 * t.tf * s.t_tokens
                              + {textstats._BM25_DEN_T} * s.t_tokens
                              + {textstats._BM25_DEN_DL} * d.dl * s.n_docs)
                       ), 4) AS bm25
                FROM tf t JOIN qt q USING (term)
                     JOIN dl d ON d.doc_id = t.doc_id
                     CROSS JOIN stats s
                GROUP BY q.query_id, t.doc_id
            ), ranked AS (
                SELECT query_id, doc_id, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY bm25 DESC, doc_id ASC) AS rank
                FROM scored
            )
            SELECT query_id, CAST(rank AS BIGINT) AS target_rank,
                   CAST(10000 // rank AS BIGINT) AS rr_bp,
                   rank = 1 AS hit_at_1, rank <= 5 AS hit_at_5
            FROM ranked WHERE doc_id = query_id ORDER BY query_id
        """),
    # exact phrase search via a positional inverted index: adjacency
    # as a pure equi-join on (doc_id, pos+1), query-term broadcast
    # semi-filters before any pairing
    # positional phrase search: adjacency via pos+1 equi-join over
    # the positional postings, self-seeded queries (2nd/3rd tokens)
    Face("t_phrase_search",
         lambda s, d: textstats.phrase_search(
             read_docs(s, d), textstats.phrase_queries(read_docs(s, d))
         ),
         f"""
            WITH tt AS (
                SELECT doc_id, {TOKS} AS t FROM documents
            ), q AS (
                SELECT doc_id AS query_id,
                       lower(t[2]) AS w1, lower(t[3]) AS w2
                FROM tt
                WHERE doc_id % {textstats.PHRASE_QUERY_MOD} = 0 AND len(t) >= 3
            ), pp AS (
                SELECT doc_id, t,
                       unnest(range(1, len(t) + 1)) AS pos
                FROM tt
            ), post AS (
                SELECT doc_id, pos, lower(t[pos]) AS term FROM pp
            )
            SELECT q.query_id, q.w1, q.w2, p1.doc_id,
                   CAST(count(*) AS BIGINT) AS n_matches
            FROM q
            JOIN post p1 ON p1.term = q.w1
            JOIN post p2 ON p2.doc_id = p1.doc_id
                        AND p2.pos = p1.pos + 1 AND p2.term = q.w2
            GROUP BY 1, 2, 3, 4 ORDER BY query_id, p1.doc_id
        """),
    # code-vs-prose routing signals: brace/keyword/EOL-shape counts,
    # one JVM scan projection
    # labeled retrieval audit: queries from each %31 doc's own 3rd/5th
    # words, the SAME scoring chain as t_bm25, rank of the source doc
    # code detection: synthesis (appended %9==4 snippet) + the three
    # signal counts mirrored; prose 'if' hits count in BOTH engines,
    # which is why the verdict also requires braces
    Face("t_code_detect",
         lambda s, d: textstats.code_detect(
             textstats.with_code_blocks(read_docs(s, d))
         ),
         f"""
            WITH syn AS (
                SELECT doc_id,
                       CASE WHEN doc_id % {textstats.CODE_MOD} = 4 THEN
                           text || chr(10) || 'function f' || doc_id
                           || '(x) ' || chr(123) || chr(10)
                           || '  var y = x + ' || doc_id || ';' || chr(10)
                           || '  if (y > 0) ' || chr(123) || ' return y; '
                           || chr(125) || chr(10)
                           || '  return 0;' || chr(10) || chr(125)
                       ELSE text END AS t
                FROM documents
            ), sig AS (
                SELECT doc_id,
                       CAST(len(regexp_split_to_array(t, '\n'))
                            AS BIGINT) AS n_lines,
                       CAST(len(regexp_extract_all(t, '[{{}}]'))
                            AS BIGINT) AS n_braces,
                       CAST(len(regexp_extract_all(t,
                            '{textstats.CODE_KW_RE}')) AS BIGINT) AS kw_hits,
                       CAST(len(list_filter(
                            regexp_split_to_array(t, '\n'),
                            l -> regexp_matches(l, '{textstats.CODE_EOL_RE}')))
                            AS BIGINT) AS code_eol_lines
                FROM syn
            )
            SELECT doc_id, n_lines, n_braces, kw_hits, code_eol_lines,
                   n_braces >= {textstats.CODE_MIN_BRACES}
                       AND kw_hits >= {textstats.CODE_MIN_KEYWORDS} AS is_code
            FROM sig ORDER BY doc_id
        """),
    # BM25F body+anchor field ranking (Robertson CIKM'04): weighted
    # tf merged BEFORE saturation, either-field df
    # BM25F: the t_bm25 chain with the anchor field merged in —
    # weighted tf / dl BEFORE saturation, either-field df, anchors
    # re-derived from the 2nd/3rd-token echo formula
    Face("t_bm25f",
         lambda s, d: textstats.bm25f_topk(
             read_docs(s, d), textstats.with_anchor_field(read_docs(s, d))
         ),
         f"""
            WITH btoks AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(list_transform({TOKS}, t -> lower(t)))
                               AS term
                    FROM documents) u
                WHERE term <> ''
            ), anch AS (
                SELECT doc_id,
                       CASE WHEN base = '' THEN ''
                            WHEN doc_id % 2 = 1
                                THEN base || ' ' || base
                            ELSE base END AS anchor
                FROM (
                    SELECT doc_id,
                           CASE WHEN len({TOKS}) >= 3
                                THEN lower(({TOKS})[2] || ' '
                                           || ({TOKS})[3])
                                ELSE '' END AS base
                    FROM documents)
            ), atoks AS (
                SELECT doc_id, term FROM (
                    SELECT doc_id,
                           unnest(regexp_split_to_array(trim(anchor),
                                                        '\s+')) AS term
                    FROM anch) u
                WHERE term <> ''
            ), btf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tfb
                FROM btoks GROUP BY doc_id, term
            ), atf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tfa
                FROM atoks GROUP BY doc_id, term
            ), ctf AS (
                SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
                       coalesce(b.term, a.term) AS term,
                       CAST({textstats.BM25F_W_BODY} * coalesce(tfb, 0)
                            + {textstats.BM25F_W_ANCHOR} * coalesce(tfa, 0)
                            AS BIGINT) AS tfc
                FROM btf b FULL OUTER JOIN atf a
                  ON b.doc_id = a.doc_id AND b.term = a.term
            ), dlc AS (
                SELECT doc_id, CAST(sum(tfc) AS BIGINT) AS dlc
                FROM ctf GROUP BY doc_id
            ), stats AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dlc) AS BIGINT) AS t_tokens FROM dlc
            ), dfreq AS (
                SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM ctf GROUP BY term
            ), qterms AS (
                SELECT CAST((rn + 1) // 2 AS BIGINT) AS query_id, rn,
                       term, df
                FROM (
                    SELECT term, df,
                           row_number() OVER (ORDER BY df DESC, term ASC)
                               AS rn
                    FROM dfreq) x
                WHERE rn <= 2 * {textstats.BM25_QUERIES}
            ), qdim AS (
                SELECT query_id, string_agg(term, ' ' ORDER BY rn)
                           AS q_terms
                FROM qterms GROUP BY query_id
            ), scored AS (
                SELECT q.query_id, t.doc_id,
                       round(sum(
                           ln(1 + (2*s.n_docs - 2*q.df + 1)
                                  / (2*q.df + 1))
                           * ({textstats._BM25_NUM_C} * t.tfc * s.t_tokens)
                           / (1000 * t.tfc * s.t_tokens
                              + {textstats._BM25_DEN_T} * s.t_tokens
                              + {textstats._BM25_DEN_DL} * d.dlc * s.n_docs)
                       ), 4) AS bm25f
                FROM ctf t JOIN qterms q USING (term)
                     JOIN dlc d ON d.doc_id = t.doc_id
                     CROSS JOIN stats s
                GROUP BY q.query_id, t.doc_id
            )
            SELECT query_id, q_terms, doc_id, bm25f,
                   CAST(rank AS BIGINT) AS rank
            FROM (
                SELECT query_id, doc_id, bm25f, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY bm25f DESC, doc_id ASC) AS rank
                FROM scored) r JOIN qdim USING (query_id)
            WHERE rank <= {textstats.BM25_TOP_K}
            ORDER BY query_id, rank
        """),
    # KWIC concordance for the df-top term: in-row context slicing,
    # positional per-doc cap
    # KWIC: same df-top pick, 1-based inclusive list slices clamp at
    # the edges exactly like Spark's slice
    Face("t_kwic", lambda s, d: textstats.kwic(read_docs(s, d)), f"""
            WITH base AS (
                SELECT doc_id,
                       list_transform({TOKS}, t -> lower(t)) AS toks
                FROM documents
            ), ex AS (
                SELECT doc_id, toks,
                       unnest(range(1, len(toks) + 1)) AS pos
                FROM base
            ), terms AS (
                SELECT doc_id, toks, pos, toks[pos] AS term
                FROM ex WHERE toks[pos] <> ''
            ), dfreq AS (
                SELECT term, count(DISTINCT doc_id) AS df
                FROM terms GROUP BY term
            ), topt AS (
                SELECT term FROM dfreq ORDER BY df DESC, term ASC LIMIT 1
            ), hits AS (
                SELECT t.doc_id, t.toks, t.pos, t.term AS kw,
                       row_number() OVER (PARTITION BY t.doc_id
                                          ORDER BY t.pos) AS k
                FROM terms t JOIN topt USING (term)
            )
            SELECT doc_id, CAST(pos AS BIGINT) AS pos,
                   coalesce(array_to_string(
                       toks[greatest(pos - {textstats.KWIC_WINDOW}, 1) : pos - 1],
                       ' '), '') AS left_ctx,
                   kw,
                   coalesce(array_to_string(
                       toks[pos + 1 : least(pos + {textstats.KWIC_WINDOW},
                                            len(toks))], ' '), '')
                       AS right_ctx
            FROM hits WHERE k <= {textstats.KWIC_PER_DOC}
            ORDER BY doc_id, pos
        """),
    # in-text ISO-date freshness: real month/day ranges, lexicographic
    # min/max (ISO's gift), decoys pinned
    # BM25 top-k: the tf component divides the SAME two BIGINTs both
    # engines build (x1000T clears k1/b and the avgdl division); the
    # idf ln() is the one libm call, guarded by the 4dp round; 2-term
    # queries keep the per-query sum IEEE-commutative
    # date extract: the synthesis flavors re-derived — %6==1 one date
    # (malformed 2024-99-99 rejected by the range classes), %6==3 a
    # two-date range, %6==5 the US-format decoy never matches
    Face("t_date_extract",
         lambda s, d: textstats.date_extract(
             textstats.with_pub_dates(read_docs(s, d))
         ),
         f"""
            SELECT doc_id,
                   CAST(CASE doc_id % 6 WHEN 1 THEN 1 WHEN 3 THEN 2
                        ELSE 0 END AS BIGINT) AS n_dates,
                   CASE doc_id % 6
                     WHEN 1 THEN '2024-0' || (doc_id % 9 + 1) || '-1'
                                 || (doc_id % 3)
                     WHEN 3 THEN '2023-1' || (doc_id % 2) || '-05'
                     ELSE '' END AS min_date,
                   CASE doc_id % 6
                     WHEN 1 THEN '2024-0' || (doc_id % 9 + 1) || '-1'
                                 || (doc_id % 3)
                     WHEN 3 THEN '2024-02-2' || (doc_id % 3)
                     ELSE '' END AS max_date
            FROM documents ORDER BY doc_id
        """),
    # character entropy in floored milli-bits: the junk detector
    # orthogonal to word rules (repeated-char filler sits far below
    # prose, base64 far above)
    # char entropy: H = log2(n) - (1/n) sum(c*log2 c) over the same
    # per-(doc, char) counts; both engines floor the identical double
    Face("t_char_entropy",
         lambda s, d: textstats.char_entropy(read_docs(s, d)),
         f"""
            WITH ch AS (
                SELECT doc_id, c FROM (
                    SELECT doc_id, unnest(string_split(text, '')) AS c
                    FROM documents) u
                WHERE c <> ''
            ), cc AS (
                SELECT doc_id, c, CAST(count(*) AS BIGINT) AS cnt
                FROM ch GROUP BY doc_id, c
            ), agg AS (
                SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS distinct_chars,
                       sum(cnt * log2(cnt)) AS clogc
                FROM cc GROUP BY doc_id
            )
            SELECT doc_id, n AS n_chars_counted, distinct_chars,
                   CAST(floor(1000 * (log2(n) - clogc / n)) AS BIGINT)
                       AS entropy_milli,
                   floor(1000 * (log2(n) - clogc / n))
                       < {textstats.ENTROPY_LOW_MILLI} AS is_low_entropy
            FROM agg ORDER BY doc_id
        """),
    # unigram-LM tokenizer (SentencePiece-style): ONE distributed word
    # count -> driver-local EM on the capped head; oracle = the frozen
    # pure-Python twin sharing _unigram_em verbatim
    # unigram vocab: the frozen pure-Python twin (gen_expected runs
    # textstats._unigram_em itself — shared function, not a mirror)
    Face("t_unigram_vocab",
         lambda s, d: textstats.unigram_fit_local(
             read_docs(s, d)
         ),
         f"""
            SELECT piece, CAST(cost_milli AS BIGINT) AS cost_milli
            FROM (VALUES {_UNIGRAM_VALUES}) v(piece, cost_milli)
            ORDER BY piece
        """),
    # Viterbi segmentation totals under that vocabulary (integer
    # combined units fold the fewest-pieces tie-break into the cost)
    # unigram apply: Viterbi as a LINEAR recursive CTE — with pieces
    # capped at 4 chars, dp[i] needs only the previous 4 dp values, so
    # each recursion row carries the (d0..d3) window; min-cost lookups
    # are 4 LEFT JOINs against the vocab VALUES, unknown single chars
    # cost UNK, impossible transitions coalesce to a sentinel
    # (shared fragment: _unigram_units_ctes, also under fertility)
    Face("t_unigram_apply",
         lambda s, d: textstats.unigram_apply(read_docs(s, d)),
         f"""
            WITH RECURSIVE {_unigram_units_ctes}
            SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(u.units % 1000) AS BIGINT) AS n_pieces,
                   CAST(sum(u.units // 1000) AS BIGINT) AS cost_milli
            FROM utoks t JOIN wunits u USING (w)
            GROUP BY t.doc_id ORDER BY t.doc_id
        """),
    # per-lang fertility of the unigram tokenizer (model-card stat)
    # per-lang unigram fertility: pieces per word in exact integer bp
    # over the SAME wunits/utoks fragment + the lang dim
    Face("t_unigram_fertility",
         lambda s, d: textstats.unigram_fertility(
             read_docs(s, d)
         ),
         f"""
            WITH RECURSIVE {_unigram_units_ctes}
            SELECT d.lang, CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(u.units % 1000) AS BIGINT) AS n_pieces,
                   CAST((10000 * sum(u.units % 1000)) // count(*) AS BIGINT)
                       AS pieces_per_word_bp
            FROM utoks t JOIN wunits u USING (w)
                 JOIN documents d ON d.doc_id = t.doc_id
            GROUP BY d.lang ORDER BY d.lang
        """),
    # is the quality score a length proxy? exact-integer Pearson
    # moments + covariance sign, one map-side aggregate
    # length-quality association: exact integer moments + the Pearson
    # numerator's sign (same quality-bp quantization as budget_select)
    Face("t_len_quality_assoc",
         lambda s, d: textstats.len_quality_assoc(
             read_docs(s, d)
         ),
         f"""
            WITH lq AS (
                SELECT CAST(len({TOKS}) AS BIGINT) AS x,
                       CAST(round(({quality_sql()}) * 10000) AS BIGINT) AS y
                FROM documents
            ), ag AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(x) AS BIGINT) AS sum_x,
                       CAST(sum(y) AS BIGINT) AS sum_y,
                       CAST(sum(x * y) AS BIGINT) AS sum_xy,
                       CAST(sum(x * x) AS BIGINT) AS sum_x2,
                       CAST(sum(y * y) AS BIGINT) AS sum_y2
                FROM lq
            )
            SELECT *, CAST(n_docs * sum_xy - sum_x * sum_y AS BIGINT)
                       AS cov_num,
                   n_docs * sum_xy > sum_x * sum_y AS cov_positive
            FROM ag
        """),
    # per-rule gate impact: fires / sole-blocker / token mass per rule,
    # zero-filled (the knob-tuning table)
    # gate impact: the SAME gate_cte_for reasons chain, split and
    # exploded per rule, zero-filled over the rule dim
    Face("t_gate_impact", lambda s, d: textstats.gate_impact(read_docs(s, d)),
         f"""
            WITH {gate_cte_for("documents")},
            gtoks AS (
                SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), gfail AS (
                SELECT g.doc_id,
                       CASE WHEN len(string_split(g.reasons, ';')) = 1
                            THEN 1 ELSE 0 END AS sole,
                       unnest(string_split(g.reasons, ';')) AS rule
                FROM gated g WHERE g.reasons <> ''
            ), gper AS (
                SELECT rule, count(*) AS n_docs_failing,
                       sum(sole) AS n_sole_blocker,
                       sum(t.n_tokens) AS tokens_failing
                FROM gfail f JOIN gtoks t USING (doc_id)
                GROUP BY rule
            ), gdim AS (
                SELECT * FROM (VALUES {", ".join(
                    f"('{r}')" for r in textstats.GATE_RULE_NAMES
                )}) d(rule)
            ), gtot AS (SELECT sum(n_tokens) AS tot FROM gtoks)
            SELECT d.rule,
                   CAST(coalesce(p.n_docs_failing, 0) AS BIGINT)
                       AS n_docs_failing,
                   CAST(coalesce(p.n_sole_blocker, 0) AS BIGINT)
                       AS n_sole_blocker,
                   CAST(coalesce(p.tokens_failing, 0) AS BIGINT)
                       AS tokens_failing,
                   CAST((10000 * coalesce(p.tokens_failing, 0)) // tot
                        AS BIGINT) AS tokens_bp
            FROM gdim d LEFT JOIN gper p ON p.rule = d.rule, gtot
            ORDER BY d.rule
        """),
]
