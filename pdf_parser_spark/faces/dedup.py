"""Deduplication faces: exact, n-gram Jaccard, MinHash/LSH, SimHash,
containment, embedding and semantic near-dup, duplicate spans, change
magnitude and incremental dedup."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.faces import Face
from pdf_parser_spark.faces.shared import (
    H32,
    SHINGLES,
    TOKS,
    bands_cte,
    quality_sql,
    read_docs,
    read_embeddings,
    sigs_cte,
)
from pdf_parser_spark.operators import curation, dedup, textstats
from pdf_parser_spark.operators.dedup import MINHASH_PARAMS


# shared duplicated passage, the literal twin of dedup.with_shared_passage
_span_passage_sql = (
    "[" + ", ".join(f"'{w}'" for w in dedup.SPAN_PASSAGE.split()) + "]"
)
from pdf_parser_spark.operators import snapshot

# the full dup-span derivation (spliced tokens -> windows -> hot fps ->
# gaps-and-islands -> maximal spans), shared by d_dup_spans and
# d_strip_spans so the detect and apply oracles can never diverge
_span_cte = f"""base AS (
                SELECT doc_id, {TOKS} AS t FROM documents
            ), sp AS (
                SELECT doc_id,
                       CASE WHEN doc_id % {dedup.SPAN_MOD} = 0
                            THEN t[1:{dedup.SPAN_SPLICE_AT}]
                                 || {_span_passage_sql}
                                 || t[{dedup.SPAN_SPLICE_AT} + 1:len(t)]
                            ELSE t END AS t
                FROM base
            ), widx AS (
                SELECT doc_id, t,
                       CASE WHEN len(t) >= {dedup.SPAN_N}
                            THEN range(0, len(t) - {dedup.SPAN_N} + 1)
                            ELSE [] END AS idx
                FROM sp
            ), wins AS (
                SELECT doc_id, unnest(idx) AS pos,
                       unnest(list_transform(idx,
                           i -> md5(array_to_string(t[i + 1:i + {dedup.SPAN_N}], ' '))))
                           AS fp
                FROM widx
            ), hot AS (
                SELECT fp FROM wins
                GROUP BY fp HAVING count(DISTINCT doc_id) >= {dedup.SPAN_MIN_DF}
            ), dup AS (
                SELECT doc_id, pos FROM wins WHERE fp IN (SELECT fp FROM hot)
            ), marked AS (
                SELECT doc_id, pos,
                       CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                                 IS NULL
                              OR pos - lag(pos) OVER (PARTITION BY doc_id
                                                      ORDER BY pos) > {dedup.SPAN_N}
                            THEN 1 ELSE 0 END AS brk
                FROM dup
            ), isl AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS grp
                FROM marked
            ), spans AS (
                SELECT doc_id,
                       CAST(min(pos) AS BIGINT) AS span_start,
                       CAST(max(pos) + {dedup.SPAN_N} - 1 AS BIGINT) AS span_end,
                       CAST(max(pos) - min(pos) + {dedup.SPAN_N} AS BIGINT) AS span_len,
                       CAST(count(*) AS BIGINT) AS n_windows
                FROM isl GROUP BY doc_id, grp
            )"""


FACES = [
    Face("d_exact", lambda s, d: dedup.exact_dedup_groups(read_docs(s, d)), """
            SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp,
                   count(*) AS n_docs, min(doc_id) AS keep_doc_id
            FROM documents GROUP BY fp ORDER BY keep_doc_id
        """),
    # cross-snapshot dedup curve (FineWeb-style): per synthetic crawl,
    # new vs within-crawl-dup vs seen-in-earlier-crawl partition of
    # every doc, exact bp rates, zero-filled over the crawl dim
    # cross-snapshot dedup curve: same normalized-md5 fingerprint as
    # d_exact with the crawl key riding the one groupBy; the
    # new/within/prior partition rule mirrored verbatim
    Face("d_dup_trend", lambda s, d: dedup.dup_rate_trend(read_docs(s, d)),
         f"""
            WITH fpc AS (
                SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))
                           AS fp,
                       CAST(doc_id % {dedup.DUP_TREND_CRAWLS} AS BIGINT)
                           AS crawl,
                       count(*) AS cnt
                FROM documents GROUP BY fp, crawl
            ),
            first AS (SELECT fp, min(crawl) AS min_crawl FROM fpc GROUP BY fp),
            per AS (
                SELECT f.crawl,
                       sum(f.cnt) AS n_docs,
                       sum(CASE WHEN f.crawl = x.min_crawl THEN 1
                                ELSE 0 END) AS n_new,
                       sum(CASE WHEN f.crawl = x.min_crawl THEN f.cnt - 1
                                ELSE 0 END) AS n_dup_within,
                       sum(CASE WHEN f.crawl > x.min_crawl THEN f.cnt
                                ELSE 0 END) AS n_dup_prior
                FROM fpc f JOIN first x USING (fp) GROUP BY f.crawl
            ),
            dim AS (SELECT unnest(range({dedup.DUP_TREND_CRAWLS})) AS crawl)
            SELECT CAST(dim.crawl AS BIGINT) AS crawl,
                   CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
                   CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
                   CAST(coalesce(n_dup_within, 0) AS BIGINT) AS n_dup_within,
                   CAST(coalesce(n_dup_prior, 0) AS BIGINT) AS n_dup_prior,
                   CAST(CASE WHEN coalesce(n_docs, 0) = 0 THEN 0
                             ELSE (10000 * n_dup_within) // n_docs END
                        AS BIGINT) AS dup_within_bp,
                   CAST(CASE WHEN coalesce(n_docs, 0) = 0 THEN 0
                             ELSE (10000 * n_dup_prior) // n_docs END
                        AS BIGINT) AS dup_prior_bp
            FROM dim LEFT JOIN per ON per.crawl = dim.crawl
            ORDER BY crawl
        """),
    # survivorship audit: which sources keep their docs and which lose
    # them to another source's copy when near-dup clusters collapse
    # survivorship audit: the SAME reach closure rolled to the source
    # dim — members, keepers, drops, and cross-source losses
    Face("d_survivorship",
         lambda s, d: dedup.dedup_survivorship(read_docs(s, d)),
         "WITH RECURSIVE"
        + bands_cte.removeprefix("\n        WITH").rstrip() + """
        , prs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM prs
            UNION
            SELECT doc_b, doc_a FROM prs
        ), reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.r FROM reach r JOIN edges e ON e.b = r.node
        ), lab AS (
            SELECT node AS doc_id, min(r) AS component,
                   (node = min(r)) AS is_keeper
            FROM reach GROUP BY node
        )
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(CASE WHEN l.is_keeper THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keepers,
               CAST(sum(CASE WHEN l.is_keeper THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_dropped,
               CAST(sum(CASE WHEN NOT l.is_keeper AND d.source <> k.source
                        THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cross_source_lost
        FROM lab l JOIN documents d ON d.doc_id = l.doc_id
                   JOIN documents k ON k.doc_id = l.component
        GROUP BY d.source ORDER BY d.source
        """),
    # banded candidate generation (the r3 default: same bands_cte as the
    # LSH query) + exact Jaccard verify — the oracle mirrors the
    # candidate sketch exactly, so both engines see the same pair set
    Face("d_ngram_jaccard",
         lambda s, d: dedup.ngram_jaccard_pairs(read_docs(s, d), threshold=0.2),
         bands_cte + """
            , cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            )
            SELECT c.doc_a, c.doc_b,
                   round(len(list_intersect(sa.shingles, sb.shingles)) /
                         len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) AS jaccard
            FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                        JOIN sh sb ON sb.doc_id = c.doc_b
            WHERE round(len(list_intersect(sa.shingles, sb.shingles)) /
                        len(list_distinct(list_concat(sa.shingles, sb.shingles))), 4) >= 0.2
            ORDER BY doc_a, doc_b
        """),
    # one-pass threshold knob table: banded candidates verified ONCE,
    # thresholded |grid| times — pairs + docs-touched per candidate
    Face("d_threshold_sweep",
         lambda s, d: dedup.jaccard_threshold_sweep(
             read_docs(s, d)),
         bands_cte + f"""
            , cand AS (
                SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
            ),
            pj AS (
                SELECT c.doc_a, c.doc_b,
                       (10000 * len(list_intersect(sa.shingles, sb.shingles)))
                       // len(list_distinct(
                              list_concat(sa.shingles, sb.shingles))) AS jac_bp
                FROM cand c JOIN sh sa ON sa.doc_id = c.doc_a
                            JOIN sh sb ON sb.doc_id = c.doc_b
                WHERE len(list_distinct(
                          list_concat(sa.shingles, sb.shingles))) > 0
            ),
            grid AS (SELECT unnest([{", ".join(str(t) for t in
                                               dedup.JACCARD_SWEEP_GRID_BP)}])
                         AS threshold_bp),
            q AS (SELECT g.threshold_bp, p.doc_a, p.doc_b
                  FROM pj p JOIN grid g ON p.jac_bp >= g.threshold_bp),
            np AS (SELECT threshold_bp, count(*) AS n_pairs
                   FROM q GROUP BY threshold_bp),
            nd AS (SELECT threshold_bp, count(DISTINCT d) AS n_docs FROM (
                       SELECT threshold_bp, doc_a AS d FROM q
                       UNION ALL SELECT threshold_bp, doc_b FROM q)
                   GROUP BY threshold_bp)
            SELECT CAST(g.threshold_bp AS BIGINT) AS threshold_bp,
                   CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
                   CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
            FROM grid g LEFT JOIN np USING (threshold_bp)
                        LEFT JOIN nd USING (threshold_bp)
            ORDER BY threshold_bp
        """),
    Face("d_minhash_sig",
         lambda s, d: dedup.minhash_signatures(read_docs(s, d))
         .select("doc_id", F.posexplode("sig").alias("k", "minhash"))
         .select("doc_id", F.col("k").cast("long").alias("k"), "minhash")
         .orderBy("doc_id", "k"),
         sigs_cte + """
            SELECT doc_id, k, sig[k + 1] AS minhash
            FROM sigs, (SELECT unnest(range(0, 8)) AS k)
            ORDER BY doc_id, k
        """),
    Face("d_minhash_lsh",
         lambda s, d: dedup.minhash_lsh_pairs(read_docs(s, d)),
         bands_cte + """
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b
        """),
    # cross-source duplication matrix: the datasheet face of the pair
    # stream (syndication/mirror mass per unordered source pair)
    # transitive closure of the LSH candidate graph: component = min
    # reachable doc_id (recursive CTE = the oracle for the iterative
    # min-label propagation the Spark side runs)
    # cross-source matrix: same banded pair rule, endpoints labeled by
    # source, unordered-pair fold + distinct touched docs
    Face("d_cross_source",
         lambda s, d: dedup.cross_source_dups(read_docs(s, d)),
         bands_cte + """
            , prs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
                GROUP BY doc_a, doc_b
            ), lab AS (
                SELECT least(sa.source, sb.source) AS source_a,
                       greatest(sa.source, sb.source) AS source_b,
                       p.doc_a, p.doc_b
                FROM prs p
                JOIN documents sa ON sa.doc_id = p.doc_a
                JOIN documents sb ON sb.doc_id = p.doc_b
            ), np AS (
                SELECT source_a, source_b,
                       CAST(count(*) AS BIGINT) AS n_pairs
                FROM lab GROUP BY 1, 2
            ), dt AS (
                SELECT source_a, source_b,
                       CAST(count(*) AS BIGINT) AS n_docs
                FROM (SELECT DISTINCT source_a, source_b, d FROM (
                      SELECT source_a, source_b, doc_a AS d FROM lab
                      UNION ALL
                      SELECT source_a, source_b, doc_b AS d FROM lab))
                GROUP BY 1, 2
            )
            SELECT np.source_a, np.source_b, np.n_pairs, dt.n_docs
            FROM np JOIN dt USING (source_a, source_b)
            ORDER BY source_a, source_b
        """),
    # sketch-accuracy audit: MinHash estimate vs exact Jaccard per
    # candidate pair, signed err in exact-integer bp
    # sketch-accuracy audit: sigs_cte carries both the signatures and
    # the sh shingle CTE, so estimate and exact verify share one
    # derivation; divisions are exact-integer bp
    Face("d_minhash_est",
         lambda s, d: dedup.minhash_estimate_audit(read_docs(s, d)),
         bands_cte + f"""
            , prs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM banded a JOIN banded b
                  ON a.band = b.band AND a.bucket = b.bucket
                 AND a.doc_id < b.doc_id
                GROUP BY doc_a, doc_b
            ), jj AS (
                SELECT p.doc_a, p.doc_b,
                       len(list_filter(range(1, {len(MINHASH_PARAMS)} + 1),
                           i -> sa.sig[i] = sb.sig[i])) AS agree,
                       len(list_intersect(ha.shingles, hb.shingles)) AS inter,
                       len(list_distinct(ha.shingles || hb.shingles)) AS un
                FROM prs p
                JOIN sigs sa ON sa.doc_id = p.doc_a
                JOIN sigs sb ON sb.doc_id = p.doc_b
                JOIN sh ha ON ha.doc_id = p.doc_a
                JOIN sh hb ON hb.doc_id = p.doc_b
            )
            SELECT doc_a, doc_b, CAST(agree AS BIGINT) AS agree_k,
                   CAST((10000 * agree) // {len(MINHASH_PARAMS)} AS BIGINT) AS est_bp,
                   CAST((10000 * inter) // un AS BIGINT) AS exact_bp,
                   CAST((10000 * agree) // {len(MINHASH_PARAMS)}
                        - (10000 * inter) // un AS BIGINT) AS err_bp
            FROM jj ORDER BY doc_a, doc_b
        """),
    # content-defined chunking (LBFS lineage): boundaries re-sync after
    # edits; greedy MIN/MAX walk over md5-window cut candidates
    # CDC: the greedy walk is a recursive CTE whose next cut is
    # least(n, prev+MAX, first candidate >= prev+MIN) — the exact twin
    # of the engine's per-doc loop; candidates from the same md5-window
    # condition
    Face("d_cdc_chunks", lambda s, d: dedup.cdc_chunks(read_docs(s, d)), f"""
            WITH RECURSIVE d AS (
                SELECT doc_id, text, length(text) AS n FROM documents
                WHERE text IS NOT NULL AND length(text) > 0
            ),
            -- window hash = base-31 code-point polynomial (CDC_POW31):
            -- exact BIGINT on both engines, no modular wraparound needed
            cand AS (
                SELECT doc_id, unnest(list_filter(range({dedup.CDC_W}, n + 1),
                    i -> list_sum(list_transform(range(0, {dedup.CDC_W}),
                             j -> unicode(substr(text, i - {dedup.CDC_W} + 1 + j, 1))
                                  * [{", ".join(str(p) for p in dedup.CDC_POW31)}][j + 1]))
                         % {dedup.CDC_D} = 0)) AS pos
                FROM d
            ),
            walk(doc_id, idx, prev, cut) AS (
                SELECT doc_id, 0, 0,
                       least(n, {dedup.CDC_MAX},
                             coalesce((SELECT min(pos) FROM cand c
                                       WHERE c.doc_id = d.doc_id
                                         AND c.pos >= {dedup.CDC_MIN}),
                                      n + {dedup.CDC_MAX}))
                FROM d
                UNION ALL
                SELECT w.doc_id, w.idx + 1, w.cut,
                       least(d.n, w.cut + {dedup.CDC_MAX},
                             coalesce((SELECT min(pos) FROM cand c
                                       WHERE c.doc_id = w.doc_id
                                         AND c.pos >= w.cut + {dedup.CDC_MIN}),
                                      d.n + {dedup.CDC_MAX}))
                FROM walk w JOIN d ON d.doc_id = w.doc_id
                WHERE w.cut < d.n
            ),
            chunks AS (
                SELECT w.doc_id, w.idx, w.prev AS start,
                       w.cut - w.prev AS length,
                       md5(substr(d.text, w.prev + 1, w.cut - w.prev)) AS chunk_md5
                FROM walk w JOIN d ON d.doc_id = w.doc_id
            ),
            copies AS (
                SELECT chunk_md5, CAST(count(*) AS BIGINT) AS n_copies
                FROM chunks GROUP BY chunk_md5
            )
            SELECT c.doc_id, CAST(c.idx AS INT) AS chunk_idx,
                   CAST(c.start AS INT) AS start,
                   CAST(c.length AS INT) AS length,
                   c.chunk_md5, k.n_copies
            FROM chunks c JOIN copies k USING (chunk_md5)
            ORDER BY c.doc_id, chunk_idx
        """),
    Face("d_components",
         lambda s, d: dedup.connected_components(
             dedup.minhash_lsh_pairs(read_docs(s, d))
         ),
         "WITH RECURSIVE" + bands_cte.removeprefix("\n        WITH").rstrip() + """
        , prs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM prs
            UNION
            SELECT doc_b, doc_a FROM prs
        ), reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.r FROM reach r JOIN edges e ON e.b = r.node
        )
        SELECT node AS doc_id, min(r) AS component,
               (node = min(r)) AS is_keeper
        FROM reach GROUP BY node ORDER BY doc_id
        """),
    # quality-aware keeper election: the cluster keeps its BEST copy
    # (shared soft-quality formula, exact-bp struct-max argmax)
    # quality-aware keeper: the d_components closure joined to the
    # SAME quality_sql bp formula, argmax per component with the
    # (quality desc, doc_id asc) tie — row_number is the SQL twin of
    # the Spark struct-max
    Face("d_keeper_election",
         lambda s, d: dedup.keeper_election(
             dedup.connected_components(dedup.minhash_lsh_pairs(read_docs(s, d))),
             textstats.quality_score(read_docs(s, d)).select("doc_id", "quality"),
         ),
         "WITH RECURSIVE"
        + bands_cte.removeprefix("\n        WITH").rstrip()
        + """
        , prs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
            GROUP BY doc_a, doc_b
        ), edges AS (
            SELECT doc_a AS a, doc_b AS b FROM prs
            UNION
            SELECT doc_b, doc_a FROM prs
        ), reach(node, r) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, r.r FROM reach r JOIN edges e ON e.b = r.node
        ), comp AS (
            SELECT node AS doc_id, min(r) AS component
            FROM reach GROUP BY node
        ), q AS (
            SELECT doc_id, CAST(round(("""
        + quality_sql()
        + """) * 10000) AS BIGINT) AS quality_bp
            FROM documents
        ), rk AS (
            SELECT c.doc_id, c.component, q.quality_bp,
                   row_number() OVER (PARTITION BY c.component
                       ORDER BY q.quality_bp DESC, c.doc_id ASC) AS rn
            FROM comp c JOIN q USING (doc_id)
        )
        SELECT doc_id, component, quality_bp, rn = 1 AS is_keeper
        FROM rk ORDER BY doc_id
        """),
    # SimHash: md5-per-token bit-majority, expressed relationally —
    # token md5s as UBIGINT, one row per (doc, bit) for the +-1 majority,
    # then the sign bits packed back to a signed BIGINT.  Empty docs
    # left-join back with simhash 0 (the kernel's no-token case).
    Face("d_simhash", lambda s, d: dedup.simhash(read_docs(s, d)), r"""
            WITH toks AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                FROM documents
            ), hashed AS (
                SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
                FROM toks WHERE tok <> ''
            ), bits AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
                FROM hashed, (SELECT unnest(range(0, 64)) AS b)
                GROUP BY doc_id, b
            ), sims AS (
                SELECT doc_id,
                       sum(CASE WHEN acc > 0 THEN CAST(1::UBIGINT << b AS HUGEINT)
                                ELSE 0 END) AS u
                FROM bits GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(CASE WHEN coalesce(s.u, 0) >= 9223372036854775808
                             THEN coalesce(s.u, 0) - 18446744073709551616
                             ELSE coalesce(s.u, 0) END AS BIGINT) AS simhash
            FROM documents d LEFT JOIN sims s ON d.doc_id = s.doc_id
            ORDER BY d.doc_id
        """),
    # asymmetric containment: excerpts/syndication that Jaccard misses
    # asymmetric containment over the corpus + formula-derived excerpts:
    # (inter*10000) div |shA| in exact basis points
    Face("d_containment",
         lambda s, d: dedup.containment_pairs(
             dedup.with_syndicated(read_docs(s, d))
         ),
         f"""
            WITH uni AS (
                SELECT doc_id, source, text FROM documents
                UNION ALL
                SELECT -(doc_id) - 1, source,
                       'via feed ' ||
                       coalesce(array_to_string(({TOKS})[1:20], ' '), '')
                FROM documents WHERE doc_id % {dedup.SYNDICATED_MOD} = 0
            ), sh AS (
                SELECT doc_id, source, list_distinct({SHINGLES}) AS s FROM uni
            ), hashed AS (
                SELECT doc_id,
                       list_transform(s, x -> {H32.format(x='x')}) AS hs
                FROM sh
            ), queries AS (
                SELECT doc_id AS doc_a,
                       unnest(list_sort(hs)[1:{dedup.CONTAIN_BOTTOM_K}]) AS h
                FROM hashed
            ), postings AS (
                SELECT doc_id AS doc_b, unnest(hs) AS h FROM hashed
            ), cand AS (
                SELECT DISTINCT doc_a, doc_b
                FROM queries q JOIN postings p USING (h)
                WHERE doc_a <> doc_b
            )
            SELECT doc_a, doc_b, containment_bp FROM (
                SELECT c.doc_a, c.doc_b,
                       CAST((len(list_intersect(a.s, b.s)) * 10000)
                            // len(a.s) AS BIGINT) AS containment_bp
                FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                            JOIN sh b ON b.doc_id = c.doc_b
            ) t WHERE containment_bp >= 8000
            ORDER BY doc_a, doc_b
        """),
    Face("d_embedding_neardup",
         lambda s, d: dedup.embedding_neardup_pairs(read_embeddings(s, d), threshold=0.3),
         """
            WITH emb AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos_sim
            FROM emb a JOIN emb b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
            ORDER BY vec_a, vec_b
        """),
    # SemDeDup (Abbas et al. 2023): cosine dup groups within the coarse
    # cluster, keeper = LOWEST centroid-cosine member (exact-integer
    # election: quantized sum-centroid + sign-adjusted square ratio)
    # semdedup: the SAME 4dp pair rule feeds a recursive-CTE closure,
    # centroid election re-derived from the quantization formula
    # (HUGEINT square where Spark uses DECIMAL(38))
    Face("d_semdedup",
         lambda s, d: dedup.semdedup(read_embeddings(s, d), threshold=0.3),
         f"""
            WITH RECURSIVE emb AS (
                SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
            ), prs AS (
                SELECT a.vec_id AS va, b.vec_id AS vb
                FROM emb a JOIN emb b
                  ON a.label = b.label AND a.vec_id < b.vec_id
                WHERE round(list_dot_product(a.v, b.v) /
                      (sqrt(list_dot_product(a.v, a.v)) *
                       sqrt(list_dot_product(b.v, b.v))), 4) >= 0.3
            ), edges AS (
                SELECT va AS a, vb AS b FROM prs
                UNION SELECT vb, va FROM prs
            ), reach(node, r) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.r FROM reach r JOIN edges e ON e.b = r.node
            ), comp AS (
                SELECT node AS vec_id, min(r) AS component
                FROM reach GROUP BY node
            ), qs AS (
                SELECT vec_id, label, pos,
                       CAST(round(vv * {dedup.SEMDEDUP_Q}) AS BIGINT) AS q
                FROM (SELECT vec_id, label, unnest(v) AS vv,
                             generate_subscripts(v, 1) AS pos
                      FROM emb)
            ), cent AS (
                SELECT label, pos, CAST(sum(q) AS BIGINT) AS c
                FROM qs GROUP BY label, pos
            ), pv AS (
                SELECT qs.vec_id, qs.label,
                       CAST(sum(qs.q * cent.c) AS BIGINT) AS dot,
                       CAST(sum(qs.q * qs.q) AS BIGINT) AS na2
                FROM qs JOIN cent
                  ON qs.label = cent.label AND qs.pos = cent.pos
                GROUP BY qs.vec_id, qs.label
            ), rk AS (
                SELECT vec_id, label,
                       (CASE WHEN dot < 0 THEN -1 ELSE 1 END) *
                       CAST((CAST(dot AS HUGEINT) * dot)
                            // greatest(na2, 1) AS BIGINT) AS cos_rank
                FROM pv
            ), fl AS (
                SELECT r.vec_id, r.label,
                       coalesce(c.component, r.vec_id) AS component,
                       r.cos_rank
                FROM rk r LEFT JOIN comp c ON c.vec_id = r.vec_id
            )
            SELECT vec_id, label, component, cos_rank,
                   row_number() OVER (PARTITION BY component
                       ORDER BY cos_rank ASC, vec_id ASC) = 1 AS kept
            FROM fl ORDER BY vec_id
        """),
    # SimHash near-pairs: 16-bit-prefix blocking (arithmetic >> 48, same
    # as Spark shiftright on longs) + exact hamming via bit_count(xor).
    Face("d_simhash_pairs",
         lambda s, d: dedup.simhash_near_pairs(read_docs(s, d), max_hamming=16),
         r"""
            WITH toks AS (
                SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
                FROM documents
            ), hashed AS (
                SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
                FROM toks WHERE tok <> ''
            ), bits AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS acc
                FROM hashed, (SELECT unnest(range(0, 64)) AS b)
                GROUP BY doc_id, b
            ), sims0 AS (
                SELECT doc_id,
                       sum(CASE WHEN acc > 0 THEN CAST(1::UBIGINT << b AS HUGEINT)
                                ELSE 0 END) AS u
                FROM bits GROUP BY doc_id
            ), sims AS (
                SELECT d.doc_id,
                       CAST(CASE WHEN coalesce(s.u, 0) >= 9223372036854775808
                                 THEN coalesce(s.u, 0) - 18446744073709551616
                                 ELSE coalesce(s.u, 0) END AS BIGINT) AS simhash
                FROM documents d LEFT JOIN sims0 s ON d.doc_id = s.doc_id
            ), blocked AS (
                SELECT doc_id, simhash, simhash >> 48 AS block FROM sims
            )
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM blocked a JOIN blocked b
              ON a.block = b.block AND a.doc_id < b.doc_id
            WHERE bit_count(xor(a.simhash, b.simhash)) <= 16
            ORDER BY doc_a, doc_b
        """),
    # sub-document exact duplicate-span detection (Lee et al. ACL 2022
    # suffix-array dedup re-expressed as n-gram fingerprint islands);
    # the shared passage is injected by the SPAN_MOD formula so the
    # oracle re-derives the identical token lists
    # sub-document duplicate spans: the oracle re-derives the spliced
    # token lists from the SPAN_* formulas, fingerprints every SPAN_N
    # window, and merges duplicated windows with the same
    # gaps-and-islands arithmetic — span boundaries, lengths, and
    # window counts must all match exactly
    Face("d_dup_spans",
         lambda s, d: dedup.dup_spans(
             dedup.with_shared_passage(read_docs(s, d))
         ),
         f"""
            WITH {_span_cte}
            SELECT doc_id, span_start, span_end, span_len, n_windows
            FROM spans ORDER BY doc_id, span_start
        """),
    # the apply side: duplicated spans cut from every doc (remove-all
    # policy), surviving bytes md5-pinned
    # span REMOVAL (the apply side): kept tokens re-joined in order and
    # md5-pinned, remove-all policy — shares the span CTE chain above
    Face("d_strip_spans",
         lambda s, d: dedup.strip_dup_spans(
             dedup.with_shared_passage(read_docs(s, d))
         ),
         f"""
            WITH {_span_cte},
            toks AS (
                SELECT doc_id, unnest(t) AS tok,
                       unnest(range(0, len(t))) AS pos
                FROM sp
            ), kept AS (
                SELECT k.doc_id, k.pos, k.tok FROM toks k
                WHERE NOT EXISTS (
                    SELECT 1 FROM spans s
                    WHERE s.doc_id = k.doc_id
                      AND k.pos BETWEEN s.span_start AND s.span_end)
            ), agg AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                       md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
                FROM kept GROUP BY doc_id
            )
            SELECT s2.doc_id, CAST(len(s2.t) AS BIGINT) AS n_tokens,
                   CAST(len(s2.t) - coalesce(a.n_kept, 0) AS BIGINT)
                       AS n_dup_tokens,
                   coalesce(a.clean_md5, md5('')) AS clean_md5
            FROM sp s2 LEFT JOIN agg a USING (doc_id)
            ORDER BY s2.doc_id
        """),
    # crawl snapshot diff: added/removed/changed/unchanged by fingerprint
    # token-multiset change magnitude between snapshots: HOW MUCH a
    # page changed (order-insensitive bp), not just the md5 boolean
    # snapshot diff: old = even doc_ids, new = doc_id%5 != 4 with a
    # ' [rev]' edit on doc_id%11 == 0 — full outer fingerprint compare
    # change magnitude: both-present docs, per-term full-outer counts,
    # |c_old - c_new| folded to exact bp; both revision flavors
    # re-derived
    Face("d_change_magnitude",
         lambda s, d: snapshot.change_magnitude(
             *snapshot.demo_text_snapshots(read_docs(s, d))
         ),
         f"""
            WITH oldt AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
            ), newt AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 13 = 6
                            THEN 'totally new page about topic ' || doc_id
                            WHEN doc_id % 11 = 0
                            THEN regexp_replace(text, '^\S+\s*', '')
                                 || ' rev update'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 5 <> 4
            ), bothd AS (
                SELECT o.doc_id FROM oldt o JOIN newt n USING (doc_id)
            ), oc AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c_old
                FROM (
                    SELECT doc_id, lower(unnest(
                        regexp_split_to_array(trim(text), '\s+'))) AS term
                    FROM oldt JOIN bothd USING (doc_id)
                ) WHERE term <> '' GROUP BY doc_id, term
            ), nc AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c_new
                FROM (
                    SELECT doc_id, lower(unnest(
                        regexp_split_to_array(trim(text), '\s+'))) AS term
                    FROM newt JOIN bothd USING (doc_id)
                ) WHERE term <> '' GROUP BY doc_id, term
            ), j AS (
                SELECT coalesce(oc.doc_id, nc.doc_id) AS doc_id,
                       coalesce(c_old, 0) AS c_old,
                       coalesce(c_new, 0) AS c_new
                FROM oc FULL OUTER JOIN nc
                  ON oc.doc_id = nc.doc_id AND oc.term = nc.term
            )
            SELECT doc_id,
                   CAST(sum(c_old) AS BIGINT) AS n_old_tokens,
                   CAST(sum(c_new) AS BIGINT) AS n_new_tokens,
                   CAST(sum(abs(c_old - c_new)) AS BIGINT) AS sym_diff,
                   CAST(10000 * sum(abs(c_old - c_new))
                        // (sum(c_old) + sum(c_new)) AS BIGINT)
                       AS changed_bp
            FROM j GROUP BY doc_id ORDER BY doc_id
        """),
    # incremental dedup of the doc_id%5!=0 batch against the %5==0 index:
    # exact = fingerprint already indexed; near = shares an LSH band
    # bucket with an index doc (reuses the minhash band CTE)
    Face("d_incremental",
         lambda s, d: curation.incremental_dedup(read_docs(s, d)),
         bands_cte + f"""
            , fps AS (
                SELECT doc_id,
                       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
                FROM documents
            ), idx AS (SELECT DISTINCT fp FROM fps WHERE doc_id % {curation.INDEX_MOD} = 0)
            , ib AS (
                SELECT DISTINCT band, bucket FROM banded
                WHERE doc_id % {curation.INDEX_MOD} = 0
            ), ex AS (
                SELECT DISTINCT f.doc_id FROM fps f JOIN idx USING (fp)
                WHERE f.doc_id % {curation.INDEX_MOD} <> 0
            ), nr AS (
                SELECT DISTINCT b.doc_id FROM banded b JOIN ib USING (band, bucket)
                WHERE b.doc_id % {curation.INDEX_MOD} <> 0
            )
            SELECT f.doc_id,
                   CASE WHEN ex.doc_id IS NOT NULL THEN 'dup_exact'
                        WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                        ELSE 'novel' END AS verdict
            FROM fps f
            LEFT JOIN ex ON f.doc_id = ex.doc_id
            LEFT JOIN nr ON f.doc_id = nr.doc_id
            WHERE f.doc_id % {curation.INDEX_MOD} <> 0
            ORDER BY f.doc_id
        """),
]
