"""Vector-search faces over the driver's embeddings: brute force, IVF,
LSH, SQ8, PQ/IVFPQ (with residual and rerank), MMR rerank and the
dimension audit."""

from __future__ import annotations

from pdf_parser_spark.faces import Face
from pdf_parser_spark.faces.shared import read_embeddings
from pdf_parser_spark.operators import similarity
from pdf_parser_spark.operators.similarity import (
    DIM_LADDER as _DIM_LADDER,
    PQ_RERANK as similarity_PQ_RERANK,
    PQ_ROUND_DP,
)
from pdf_parser_spark.sources import expected as E


_mmr_pen = similarity.MMR_LAMBDA_DEN - similarity.MMR_LAMBDA_NUM

_mmr_cte = f"""emb AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), mscored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                   round(list_dot_product(q.v, c.v) /
                         (sqrt(list_dot_product(q.v, q.v))
                          * sqrt(list_dot_product(c.v, c.v))), 4) AS cs
            FROM emb q CROSS JOIN emb c
            WHERE q.vec_id < {similarity.MMR_QUERIES} AND q.vec_id != c.vec_id
        ), cand AS (
            SELECT query_id, vec_id,
                   CAST(round(cs * 10000) AS BIGINT) AS rel_bp
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cs DESC, vec_id ASC) AS rk FROM mscored)
            WHERE rk <= {similarity.MMR_CAND_K}
        ), msims AS (
            SELECT x.query_id, x.vec_id AS a, y.vec_id AS b,
                   CAST(round(list_dot_product(va.v, vb.v) /
                        (sqrt(list_dot_product(va.v, va.v))
                         * sqrt(list_dot_product(vb.v, vb.v))) * 10000)
                        AS BIGINT) AS sim_bp
            FROM cand x JOIN cand y USING (query_id)
            JOIN emb va ON va.vec_id = x.vec_id
            JOIN emb vb ON vb.vec_id = y.vec_id
            WHERE x.vec_id != y.vec_id
        ), sel0 AS (
            SELECT CAST(NULL AS BIGINT) AS query_id,
                   CAST(NULL AS BIGINT) AS vec_id WHERE false
        )"""

for _r in range(1, similarity.MMR_SELECT_K + 1):
    _mmr_cte += f""",
        pick{_r} AS (
            SELECT query_id, vec_id, rel_bp, score FROM (
                SELECT c.query_id, c.vec_id, c.rel_bp,
                       {similarity.MMR_LAMBDA_NUM} * c.rel_bp
                           - {_mmr_pen} * coalesce(m.ms, 0) AS score,
                       row_number() OVER (PARTITION BY c.query_id
                           ORDER BY {similarity.MMR_LAMBDA_NUM} * c.rel_bp
                                    - {_mmr_pen} * coalesce(m.ms, 0) DESC,
                                    c.vec_id ASC) AS rn
                FROM cand c
                LEFT JOIN (
                    SELECT s.query_id, s.a AS vec_id,
                           max(s.sim_bp) AS ms
                    FROM msims s JOIN sel{_r - 1} x
                      ON x.query_id = s.query_id AND x.vec_id = s.b
                    GROUP BY 1, 2
                ) m ON m.query_id = c.query_id AND m.vec_id = c.vec_id
                WHERE NOT EXISTS (
                    SELECT 1 FROM sel{_r - 1} x
                    WHERE x.query_id = c.query_id
                      AND x.vec_id = c.vec_id)
            ) WHERE rn = 1),
        sel{_r} AS (
            SELECT query_id, vec_id FROM sel{_r - 1}
            UNION ALL SELECT query_id, vec_id FROM pick{_r})"""

_mmr_final = " UNION ALL ".join(
    f"SELECT query_id, vec_id, CAST({_r} AS INTEGER) AS mmr_rank,"
    f" rel_bp, CAST(score AS BIGINT) AS score FROM pick{_r}"
    for _r in range(1, similarity.MMR_SELECT_K + 1)
)

# kmeans centroids (numpy twin of similarity.kmeans_fit, frozen by
# tools/gen_expected.py) — the Spark query fits its OWN centroids via
# distributed Lloyd, so a fit divergence hash-mismatches here
cents_cte = (
    "(SELECT * FROM (VALUES "
    + ", ".join(
        f"({i}, {c}::DOUBLE[])" for i, c in enumerate(E.KMEANS_CENTROIDS)
    )
    + ") AS c(cl, cv))"
)

sample_cents_cte = (
    "(SELECT * FROM (VALUES "
    + ", ".join(
        f"({i}, {c}::DOUBLE[])"
        for i, c in enumerate(E.KMEANS_SAMPLE_CENTROIDS)
    )
    + ") AS c(cl, cv))"
)

# PQ codebooks: frozen numpy twins of similarity.pq_fit (per-subspace
# Lloyd over the sliced embeddings) — the Spark query fits its own
pq_books_cte = (
    "(SELECT * FROM (VALUES "
    + ", ".join(
        f"({s}, {i}, {c}::DOUBLE[])"
        for s, book in enumerate(E.PQ_CODEBOOKS)
        for i, c in enumerate(book)
    )
    + ") AS b(sub, cl, cv))"
)

# residual-encoding codebooks (numpy twin of similarity.pq_fit_residual:
# Lloyd over residuals w.r.t. KMEANS_CENTROIDS, Jegou PAMI 2011 §IV-A)
pq_res_books_cte = (
    "(SELECT * FROM (VALUES "
    + ", ".join(
        f"({s}, {i}, {c}::DOUBLE[])"
        for s, book in enumerate(E.PQ_RESIDUAL_CODEBOOKS)
        for i, c in enumerate(book)
    )
    + ") AS b(sub, cl, cv))"
)

pq_subdim = len(E.PQ_CODEBOOKS[0][0])


# dim-truncation audit: a ranked top-3 set per ladder step over the
# sliced vectors (same 4dp round + neighbor-asc tie as s_ann_brute),
# then join overlap counts vs the full ranking
def _rset(name: str, vexpr: str) -> str:
    return f"""{name} AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
                       row_number() OVER (PARTITION BY q.vec_id ORDER BY
                           round(list_dot_product({vexpr.format(t='q')}, {vexpr.format(t='n')}) /
                                 (sqrt(list_dot_product({vexpr.format(t='q')}, {vexpr.format(t='q')}))
                                  * sqrt(list_dot_product({vexpr.format(t='n')}, {vexpr.format(t='n')}))), 4) DESC,
                           n.vec_id ASC) AS rk
                FROM emb q CROSS JOIN emb n
                WHERE q.vec_id < 10 AND n.vec_id != q.vec_id)
            WHERE rk <= 3
        )"""


_dim_ctes = ",\n".join(
    [_rset("full_r", "{t}.v")]
    + [_rset(f"t{d}", f"{{t}}.v[1:{d}]") for d in _DIM_LADDER]
)

_dim_rows = " UNION ALL ".join(
    f"""SELECT {d} AS dim,
                   (SELECT CAST(count(*) AS BIGINT) FROM full_r) AS n_pairs,
                   (SELECT CAST(count(*) AS BIGINT) FROM full_r f
                    JOIN t{d} USING (query_id, neighbor_id)) AS n_overlap"""
    for d in _DIM_LADDER
)

_dim_audit_sql = f"""
        WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        {_dim_ctes}
        SELECT dim, n_pairs, n_overlap,
               CAST((10000 * n_overlap) // n_pairs AS BIGINT) AS recall_bp
        FROM ({_dim_rows}) ORDER BY dim
    """

# shared PQ/ADC CTE chain: codes = per-(vector, subspace) argmin over
# the frozen codebook twins; dists doubles as the query-side distance
# table, so the codes join IS the ADC lookup
_pq_adc_ctes = f"""emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            books AS (SELECT * FROM {pq_books_cte}),
            dists AS (
                SELECT e.vec_id, b.sub, b.cl,
                       list_sum(list_transform(range(1, {pq_subdim} + 1),
                                i -> (e.v[b.sub * {pq_subdim} + i] - b.cv[i])
                                   * (e.v[b.sub * {pq_subdim} + i] - b.cv[i]))) AS d2
                FROM emb e CROSS JOIN books b
            ), codes AS (
                SELECT vec_id, sub, cl AS code FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM dists) WHERE rn = 1
            ), adc AS (
                SELECT d.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(sum(d.d2), {PQ_ROUND_DP}) AS adc_dist
                FROM dists d
                JOIN codes c ON c.sub = d.sub AND c.code = d.cl
                WHERE d.vec_id < 10 AND c.vec_id != d.vec_id
                GROUP BY d.vec_id, c.vec_id
            )"""


# IVF oracle, parameterized by the quantizer CTE: assignment + nprobe=2
# probing from the frozen centroid literals; squared distances via the
# same elementwise (x-y)^2 left-fold shape as the Spark column expression.
# The Spark query fits its OWN centroids via distributed Lloyd (full or
# md5-sample), so a fit divergence hash-mismatches here.
def _ivf_sql(cte: str) -> str:
    return f"""
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cents AS (SELECT * FROM {cte}),
            dists AS (
                SELECT e.vec_id, c.cl,
                       list_sum(list_transform(range(1, len(e.v) + 1),
                                i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
                FROM emb e CROSS JOIN cents c
            ), assign AS (
                SELECT vec_id, cl AS cell FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM dists) WHERE rn = 1
            ), probes AS (
                SELECT vec_id AS query_id, cl AS probe FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM dists WHERE vec_id < 10) WHERE rn <= 2
            ), scored AS (
                SELECT p.query_id, a.vec_id AS neighbor_id,
                       round(list_dot_product(q.v, n.v) /
                             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 4) AS cos_sim
                FROM probes p
                JOIN assign a ON a.cell = p.probe
                JOIN emb q ON q.vec_id = p.query_id
                JOIN emb n ON n.vec_id = a.vec_id
                WHERE a.vec_id != p.query_id
            )
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM scored)
            WHERE rank <= 3 ORDER BY query_id, rank
        """


FACES = [
    Face("s_ann_brute",
         lambda s, d: similarity.brute_force_topk(read_embeddings(s, d)),
         """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.v, c.v) /
                             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS cos_sim
                FROM emb q CROSS JOIN emb c
                WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
            )
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM scored)
            WHERE rank <= 3 ORDER BY query_id, rank
        """),
    # MMR diversified re-rank (lambda=0.7 in exact integer bp): greedy
    # argmax over brute candidates, select_k bounded keyed rounds
    # MMR re-rank: the unrolled greedy twin over the same brute
    # candidates; every comparison happens on integer bp
    Face("s_mmr_rerank",
         lambda s, d: similarity.mmr_rerank(read_embeddings(s, d)),
         f"""
            WITH {_mmr_cte}
            SELECT * FROM ({_mmr_final})
            ORDER BY query_id, mmr_rank
        """),
    Face("s_ann_ivf", lambda s, d: similarity.ivf_topk(read_embeddings(s, d)),
         _ivf_sql(cents_cte)),
    # fit-on-sample mode: Lloyd rounds touch only the md5-deterministic
    # 25% sample; the oracle's frozen numpy twin applies the same filter
    # fit-on-sample IVF: Spark fits Lloyd on the md5-deterministic 25%
    # sample (similarity.KMEANS_SAMPLE_BP); the oracle probes from the
    # numpy sample-twin literals
    Face("s_ann_ivf_samplefit",
         lambda s, d: similarity.ivf_topk(
             read_embeddings(s, d),
             centroids=similarity.kmeans_fit(
                 read_embeddings(s, d), sample_bp=similarity.KMEANS_SAMPLE_BP
             ),
         ),
         _ivf_sql(sample_cents_cte)),
    # Random-hyperplane LSH: the oracle RE-DERIVES the md5 planes in SQL
    # (no frozen literals), rebuilds the packed sign signature with the
    # same 6dp projection rounding, bands it, and re-ranks collided
    # pairs with exact cosine — byte-identical to similarity.lsh_topk
    Face("s_ann_lsh", lambda s, d: similarity.lsh_topk(read_embeddings(s, d)),
         """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            planes AS (
                SELECT p, j,
                       ('0x' || substr(md5('plane_' || p || '_' || j), 1, 8))::UBIGINT
                           / 2147483648.0 - 1.0 AS w
                FROM unnest(range(0, 48)) tp(p),
                     unnest(range(0, (SELECT len(v) FROM emb LIMIT 1))) tj(j)
            ), proj AS (
                SELECT e.vec_id, pl.p, round(sum(e.v[pl.j + 1] * pl.w), 6) AS pr
                FROM emb e CROSS JOIN planes pl
                GROUP BY e.vec_id, pl.p
            ), sig AS (
                SELECT vec_id,
                       CAST(sum(CASE WHEN pr > 0 THEN 1::BIGINT << p ELSE 0 END)
                            AS BIGINT) AS sig
                FROM proj GROUP BY vec_id
            ), bands AS (
                SELECT vec_id, b, (sig >> (4 * b)) & 15 AS bv
                FROM sig, unnest(range(0, 12)) tb(b)
            ), cand AS (
                SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
                FROM bands q JOIN bands c ON q.b = c.b AND q.bv = c.bv
                WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
            ), scored AS (
                SELECT query_id, neighbor_id,
                       round(list_dot_product(qe.v, ce.v) /
                             (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ce.v, ce.v))), 4) AS cos_sim
                FROM cand
                JOIN emb qe ON qe.vec_id = query_id
                JOIN emb ce ON ce.vec_id = neighbor_id
            )
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM scored)
            WHERE rank <= 3 ORDER BY query_id, rank
        """),
    # SQ8 scalar quantization: one-byte codes against a global range,
    # quantized cosine from INTEGER sufficient statistics (the
    # int8-dot-product engine path; 8x memory vs raw doubles)
    # SQ8: codes re-derived from the global [mn, mx] via the SAME
    # operation-ordered expressions; all sums are BIGINT folds and the
    # float arithmetic is one fixed-shape formula on both engines
    Face("s_ann_sq8", lambda s, d: similarity.sq8_topk(read_embeddings(s, d)),
         """
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            st AS (SELECT min(x) AS mn, max(x) AS mx,
                          (max(x) - min(x)) / 255 AS sc
                   FROM (SELECT unnest(v) AS x FROM emb)),
            enc AS (
                SELECT e.vec_id,
                       list_transform(e.v, x -> CAST(least(greatest(
                           floor((x - st.mn) * (255 / (st.mx - st.mn))),
                           0), 255) AS BIGINT)) AS codes
                FROM emb e CROSS JOIN st
            ),
            side AS (
                SELECT vec_id, codes,
                       CAST(list_sum(codes) AS BIGINT) AS s1,
                       CAST(list_sum(list_transform(codes, c -> c * c))
                            AS BIGINT) AS s2,
                       CAST(len(codes) AS BIGINT) AS d
                FROM enc
            ),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round(
                         (st.mn * st.mn * c.d
                          + st.mn * st.sc * (q.s1 + c.s1)
                          + st.sc * st.sc
                            * CAST(list_dot_product(q.codes, c.codes) AS BIGINT))
                         /
                         (sqrt(st.mn * st.mn * c.d
                               + 2.0 * st.mn * st.sc * q.s1
                               + st.sc * st.sc * q.s2)
                          * sqrt(st.mn * st.mn * c.d
                                 + 2.0 * st.mn * st.sc * c.s1
                                 + st.sc * st.sc * c.s2)),
                         4) AS cos_sq8
                FROM side q CROSS JOIN side c CROSS JOIN st
                WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
            )
            SELECT query_id, neighbor_id, cos_sq8, CAST(rank AS INT) AS rank
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                       ORDER BY cos_sq8 DESC, neighbor_id ASC) AS rank
                  FROM scored)
            WHERE rank <= 3 ORDER BY query_id, rank
        """),
    # IVF x PQ (FAISS IVFADC): coarse cells prune WHICH vectors, codes
    # compress WHAT is scanned — the reduction factors multiply
    # IVFADC: frozen IVF centroids pick cells/probes, frozen PQ books
    # pick codes, ADC runs only inside probed cells — both stage twins
    # composed in one statement (either fit diverging mismatches)
    Face("s_ann_ivfpq",
         lambda s, d: similarity.ivfpq_topk(read_embeddings(s, d)),
         f"""
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cents AS (SELECT * FROM {cents_cte}),
            books AS (SELECT * FROM {pq_books_cte}),
            cdists AS (
                SELECT e.vec_id, c.cl,
                       list_sum(list_transform(range(1, len(e.v) + 1),
                                i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
                FROM emb e CROSS JOIN cents c
            ), assign AS (
                SELECT vec_id, cl AS cell FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM cdists) WHERE rn = 1
            ), probes AS (
                SELECT vec_id AS query_id, cl AS probe FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM cdists WHERE vec_id < 10) WHERE rn <= 2
            ), pdists AS (
                SELECT e.vec_id, b.sub, b.cl,
                       list_sum(list_transform(range(1, {pq_subdim} + 1),
                                i -> (e.v[b.sub * {pq_subdim} + i] - b.cv[i])
                                   * (e.v[b.sub * {pq_subdim} + i] - b.cv[i]))) AS d2
                FROM emb e CROSS JOIN books b
            ), codes AS (
                SELECT vec_id, sub, cl AS code FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM pdists) WHERE rn = 1
            ), adc AS (
                SELECT pr.query_id, a.vec_id AS neighbor_id,
                       round(sum(d.d2), {PQ_ROUND_DP}) AS adc_dist
                FROM probes pr
                JOIN assign a ON a.cell = pr.probe AND a.vec_id != pr.query_id
                JOIN codes c ON c.vec_id = a.vec_id
                JOIN pdists d ON d.vec_id = pr.query_id
                               AND d.sub = c.sub AND d.cl = c.code
                GROUP BY pr.query_id, a.vec_id
            )
            SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
                FROM adc)
            WHERE rank <= 3 ORDER BY query_id, rank
        """),
    # IVFADC as PUBLISHED (Jegou PAMI 2011 §IV-A): PQ codes quantize the
    # RESIDUAL vs the coarse centroid, query ADC tables become per-probe
    # — the Spark query fits both stages itself, the oracle composes the
    # frozen centroid + residual-codebook numpy twins
    # rerank=None: ADC-only face, same rationale as s_ann_pq
    # residual IVFADC (Jegou PAMI 2011 §IV-A): corpus codes = per-
    # (vector, subspace) argmin of the RESIDUAL slice (v - own-cell
    # centroid) over the frozen residual-codebook twins; the query-side
    # table is PER-PROBE — the query residual is (q - probe centroid),
    # so qd is keyed (query, probe, sub, cl).  Subtraction order matches
    # the Spark column expression: (v[i] - cent[i]) - book[i], left-assoc.
    Face("s_ann_ivfpq_residual",
         lambda s, d: similarity.ivfpq_residual_topk(
             read_embeddings(s, d), rerank=None
         ),
         f"""
            WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            cents AS (SELECT * FROM {cents_cte}),
            books AS (SELECT * FROM {pq_res_books_cte}),
            cdists AS (
                SELECT e.vec_id, c.cl,
                       list_sum(list_transform(range(1, len(e.v) + 1),
                                i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
                FROM emb e CROSS JOIN cents c
            ), assign AS (
                SELECT vec_id, cl AS cell FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM cdists) WHERE rn = 1
            ), probes AS (
                SELECT vec_id AS query_id, cl AS probe FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM cdists WHERE vec_id < 10) WHERE rn <= 2
            ), rdists AS (
                SELECT e.vec_id, b.sub, b.cl,
                       list_sum(list_transform(range(1, {pq_subdim} + 1),
                                i -> (e.v[b.sub * {pq_subdim} + i]
                                      - cn.cv[b.sub * {pq_subdim} + i]
                                      - b.cv[i])
                                   * (e.v[b.sub * {pq_subdim} + i]
                                      - cn.cv[b.sub * {pq_subdim} + i]
                                      - b.cv[i]))) AS d2
                FROM emb e
                JOIN assign a ON a.vec_id = e.vec_id
                JOIN cents cn ON cn.cl = a.cell
                CROSS JOIN books b
            ), codes AS (
                SELECT vec_id, sub, cl AS code FROM (
                    SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                             ORDER BY d2 ASC, cl ASC) AS rn
                    FROM rdists) WHERE rn = 1
            ), qd AS (
                SELECT pr.query_id, pr.probe, b.sub, b.cl,
                       list_sum(list_transform(range(1, {pq_subdim} + 1),
                                i -> (e.v[b.sub * {pq_subdim} + i]
                                      - cn.cv[b.sub * {pq_subdim} + i]
                                      - b.cv[i])
                                   * (e.v[b.sub * {pq_subdim} + i]
                                      - cn.cv[b.sub * {pq_subdim} + i]
                                      - b.cv[i]))) AS d2
                FROM probes pr
                JOIN emb e ON e.vec_id = pr.query_id
                JOIN cents cn ON cn.cl = pr.probe
                CROSS JOIN books b
            ), adc AS (
                SELECT pr.query_id, a.vec_id AS neighbor_id,
                       round(sum(d.d2), {PQ_ROUND_DP}) AS adc_dist
                FROM probes pr
                JOIN assign a ON a.cell = pr.probe AND a.vec_id != pr.query_id
                JOIN codes c ON c.vec_id = a.vec_id
                JOIN qd d ON d.query_id = pr.query_id AND d.probe = pr.probe
                           AND d.sub = c.sub AND d.cl = c.code
                GROUP BY pr.query_id, a.vec_id
            )
            SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
                FROM adc)
            WHERE rank <= 3 ORDER BY query_id, rank
        """),
    # matryoshka dim audit: exact recall of prefix-truncated rankings
    # vs the full dim, per ladder step, integer bp
    # dim audit: one ranked-set CTE per ladder step (same 4dp-round +
    # neighbor-asc tie as the brute oracle), semi-join overlap counts
    Face("s_dim_audit",
         lambda s, d: similarity.dim_truncation_audit(read_embeddings(s, d)),
         _dim_audit_sql),
    # product quantization: corpus stored as M subspace codes, queries
    # score by asymmetric distance (ADC) — the compressed-scan path; the
    # Spark query fits its OWN per-subspace Lloyd codebooks, the oracle
    # uses the frozen numpy twins (E.PQ_CODEBOOKS)
    # rerank=None pins the textbook ADC-only stage (the library
    # DEFAULT is now rerank=PQ_RERANK — ADC+R — per the r5 retune;
    # this face keeps the raw quantization error measurable)
    # PQ/ADC: codes = per-(vector, subspace) argmin over the frozen
    # codebook twins; the dists CTE doubles as the query-side distance
    # table, so the codes join IS the ADC lookup.  The Spark query fits
    # its own per-subspace Lloyd codebooks — a fit divergence in any
    # subspace mismatches here.
    Face("s_ann_pq",
         lambda s, d: similarity.pq_topk(read_embeddings(s, d),
                                                     rerank=None),
         f"""
            WITH {_pq_adc_ctes}
            SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
                FROM adc)
            WHERE rank <= 3 ORDER BY query_id, rank
        """),
    # ADC+R: the ADC scan shortlists PQ_RERANK candidates, only those
    # fetch full-precision vectors (key equi join) for exact re-rank —
    # the production second stage that confines recall loss to
    # shortlist misses
    # ADC+R: shortlist PQ_RERANK by (adc_dist, neighbor_id), exact-cosine
    # re-rank — the same brute-force output shape, loss confined to
    # shortlist misses
    Face("s_ann_pq_rerank",
         lambda s, d: similarity.pq_topk(
             read_embeddings(s, d), rerank=similarity.PQ_RERANK
         ),
         f"""
            WITH {_pq_adc_ctes},
            shortlist AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY query_id
                             ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
                    FROM adc)
                WHERE rn <= {similarity_PQ_RERANK}
            ), exact AS (
                SELECT s.query_id, s.neighbor_id,
                       round(list_dot_product(q.v, n.v) /
                             (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))), 4) AS cos_sim
                FROM shortlist s
                JOIN emb q ON q.vec_id = s.query_id
                JOIN emb n ON n.vec_id = s.neighbor_id
            )
            SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
                FROM exact)
            WHERE rank <= 3 ORDER BY query_id, rank
        """),
]
