"""Link-graph faces over the synthetic crawl graph: PageRank/TrustRank/
spam mass, HITS/SALSA, communities, k-core, triangles, reachability and
the crawl frontier."""

from __future__ import annotations

from pdf_parser_spark.faces import RUN_TS, Face
from pdf_parser_spark.faces.shared import (
    docs_as_pages,
    edges_sql,
    extract_cte,
    gate_cte_for,
    read_docs,
    rules_cte,
    url_cte,
    url_cte_for,
)
from pdf_parser_spark.operators import linkgraph as LG, weburl


# ONE unrolled-CTE builder for the PageRank family (aggregates are not
# allowed in a recursive term; unrolling keeps the SQL the literal twin
# of the Spark _power_iterate loop) — init/base are the only degrees of
# freedom, same as the Spark side, so the twins cannot drift apart.
def _rank_cte(prefix: str, col: str, init_sql: str, base_sql: str,
              k: int = 5, nodes: str = "documents") -> str:
    cte = (
        f"{prefix}0 AS (SELECT doc_id, CAST({init_sql} AS BIGINT) "
        f"AS {col} FROM {nodes})"
    )
    for i in range(k):
        cte += f""",
        {prefix}{i + 1} AS (
            SELECT d.doc_id,
                   CAST({base_sql}
                        + ({LG.DAMP_NUM} * coalesce(m.s, 0))
                        // {LG.DAMP_DEN} AS BIGINT) AS {col}
            FROM {nodes} d LEFT JOIN (
                SELECT e.dst AS doc_id,
                       CAST(sum(p.{col} // dg.outdeg) AS BIGINT) AS s
                FROM {prefix}{i} p JOIN edges e ON p.doc_id = e.src
                JOIN deg dg ON dg.src = e.src
                GROUP BY e.dst
            ) m USING (doc_id))"""
    return cte


_seed_base = (
    f"CASE WHEN d.doc_id % {LG.TRUST_SEED_MOD} = 0 THEN {LG.BASE} ELSE 0 END"
)

_tr_cte = _rank_cte(
    "tr", "trust",
    f"CASE WHEN doc_id % {LG.TRUST_SEED_MOD} = 0 THEN {LG.BASE} ELSE 0 END",
    _seed_base,
)

# exact-integer HITS, iterations unrolled the same way as PageRank's
_hits_cte = "h0 AS (SELECT doc_id, CAST(1 AS BIGINT) AS h FROM documents)"

for _i in range(LG.HITS_ITERATIONS):
    _hits_cte += f""",
        a{_i + 1} AS (
            SELECT d.doc_id, CAST(coalesce(x.s, 0) AS BIGINT) AS a
            FROM documents d LEFT JOIN (
                SELECT e.dst AS doc_id, sum(h.h) AS s
                FROM edges e JOIN h{_i} h ON h.doc_id = e.src GROUP BY e.dst
            ) x USING (doc_id)),
        h{_i + 1} AS (
            SELECT d.doc_id, CAST(coalesce(x.s, 0) AS BIGINT) AS h
            FROM documents d LEFT JOIN (
                SELECT e.src AS doc_id, sum(a.a) AS s
                FROM edges e JOIN a{_i + 1} a ON a.doc_id = e.dst GROUP BY e.src
            ) x USING (doc_id))"""

_K = LG.HITS_ITERATIONS

# SALSA: the hits chain with degree-normalized floor divisions —
# nonnegative values make DuckDB // == Spark div
_salsa_cte = f"""sdeg AS (SELECT src, count(*) AS c FROM edges GROUP BY src),
        ddeg AS (SELECT dst, count(*) AS c FROM edges GROUP BY dst),
        sh0 AS (SELECT doc_id, CAST({LG.SALSA_SCALE} AS BIGINT) AS h
                FROM documents)"""

for _i in range(LG.SALSA_ITERATIONS):
    _salsa_cte += f""",
        sa{_i + 1} AS (
            SELECT d.doc_id, CAST(coalesce(x.s, 0) AS BIGINT) AS a
            FROM documents d LEFT JOIN (
                SELECT e.dst AS doc_id, sum(h.h // o.c) AS s
                FROM edges e JOIN sh{_i} h ON h.doc_id = e.src
                JOIN sdeg o ON o.src = e.src GROUP BY e.dst
            ) x USING (doc_id)),
        sh{_i + 1} AS (
            SELECT d.doc_id, CAST(coalesce(x.s, 0) AS BIGINT) AS h
            FROM documents d LEFT JOIN (
                SELECT e.src AS doc_id, sum(a.a // i.c) AS s
                FROM edges e JOIN sa{_i + 1} a ON a.doc_id = e.dst
                JOIN ddeg i ON i.dst = e.dst GROUP BY e.src
            ) x USING (doc_id))"""

_SK = LG.SALSA_ITERATIONS

_ppr_ctes = ",\n".join(
    _rank_cte(
        f"pp{_s}", "ppr",
        f"CASE WHEN doc_id = {_s} THEN {LG.PPR_UNIT} ELSE 0 END",
        f"CASE WHEN d.doc_id = {_s} THEN {LG.PPR_UNIT} ELSE 0 END",
    )
    for _s in LG.PPR_SEEDS
)

_ppr_final = " UNION ALL ".join(
    f"""SELECT CAST({_s} AS BIGINT) AS seed_id, doc_id, ppr,
            CAST(row_number() OVER (ORDER BY ppr DESC, doc_id ASC)
                 AS BIGINT) AS rel_rank
            FROM pp{_s}5 WHERE doc_id != {_s} AND ppr > 0
            QUALIFY rel_rank <= {LG.PPR_TOPK}"""
    for _s in LG.PPR_SEEDS
)

# exact-integer PageRank, iterations unrolled as chained CTEs (aggregates
# are not allowed in a recursive term, and unrolling keeps the SQL the
# literal twin of the Spark driver loop)
_pr_cte = _rank_cte("pr", "rank", str(LG.UNIT), str(LG.BASE))

# unrolled label-propagation rounds (aggregates are not allowed in a
# recursive term — same doctrine as _rank_cte): round r relabels every
# connected host with the (weight desc, label asc) argmax over round
# r-1 neighbor labels; isolated hosts coalesce back to their own label
_lpa_rounds_sql = ""

_lpa_prev = "lab0"

for _r in range(1, LG.LPA_ROUNDS + 1):
    _lpa_rounds_sql += f""",
            v{_r} AS (
                SELECT e.a AS host, l.label, sum(e.w) AS wt
                FROM ue e JOIN {_lpa_prev} l ON l.host = e.b
                GROUP BY e.a, l.label
            ), p{_r} AS (
                SELECT host, label FROM (
                    SELECT *, row_number() OVER (PARTITION BY host
                             ORDER BY wt DESC, label ASC) AS rn
                    FROM v{_r}) WHERE rn = 1
            ), lab{_r} AS (
                SELECT n.host, coalesce(p.label, n.host) AS label
                FROM nodes n LEFT JOIN p{_r} p USING (host)
            )"""
    _lpa_prev = f"lab{_r}"

# k-core h-index rounds: the unrolled twin of host_kcore's loop
# (H^{t+1}(v) = h-index of neighbors' H^t; K fixed rounds, engine
# asserts convergence within them)
_kcore_rounds_sql = ""

for _r in range(LG.KCORE_ROUNDS):
    _kcore_rounds_sql += f""",
            kh{_r + 1} AS (
                SELECT u, CAST(max(CASE WHEN val >= rn THEN rn ELSE 0 END)
                               AS BIGINT) AS val
                FROM (SELECT s.u, l.val,
                             row_number() OVER (PARTITION BY s.u
                                 ORDER BY l.val DESC, s.v ASC) AS rn
                      FROM sym s JOIN kh{_r} l ON l.u = s.v)
                GROUP BY u
            )"""

_kcore_last = f"kh{LG.KCORE_ROUNDS}"


FACES = [
    Face("g_pagerank",
         lambda s, d: LG.pagerank(
             read_docs(s, d), LG.synthetic_edges(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql}),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_pr_cte}
            SELECT doc_id, rank FROM pr5 ORDER BY doc_id
        """),
    # TrustRank: teleport mass lands only on the vetted seed set
    # TrustRank: seeded teleport — non-seed pages hold only flowed trust
    Face("g_trustrank",
         lambda s, d: LG.trustrank(
             read_docs(s, d), LG.synthetic_edges(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql}),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_tr_cte}
            SELECT doc_id, trust FROM tr5 ORDER BY doc_id
        """),
    # PageRank on the followed-edge subgraph — the endorsement rule
    # made operative: same exact-integer dataflow, filtered edge set
    # PageRank restricted to followed edges: the SAME unrolled pr CTE
    # over the r>=3 subset of the rel-hint link formula
    Face("g_pagerank_followed",
         lambda s, d: LG.pagerank_followed(read_docs(s, d)),
         f"""
            WITH edges AS (
                SELECT src, dst FROM ({" UNION ALL ".join(
                    f"SELECT doc_id AS src, "
                    f"(doc_id * {m} + {a}) % "
                    f"(SELECT count(*) FROM documents) AS dst, "
                    f"(doc_id + {k}) % 5 AS r FROM documents"
                    for k, (m, a) in enumerate(LG.LINK_PARAMS))})
                WHERE r >= 3
            ),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_pr_cte}
            SELECT doc_id, rank FROM pr5 ORDER BY doc_id
        """),
    # spam mass (Gyöngyi VLDB'06): rank unexplained by seed trust —
    # exact-integer composition of the two faces above, trust rescaled
    # by n_docs/n_seeds via the overflow-safe decomposed product
    # spam mass: pr5 minus tr5 rescaled by n_docs/n_seeds — the scaled
    # trust uses the decomposed product (== (trust*n) // s exactly);
    # rel bp floors negatives at 0 so // and div agree cross-engine
    Face("g_spam_mass",
         lambda s, d: LG.spam_mass(
             read_docs(s, d), LG.synthetic_edges(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql}),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_pr_cte},
            {_tr_cte},
            c AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(CASE WHEN doc_id % {LG.TRUST_SEED_MOD} = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds
                FROM documents
            )
            SELECT p.doc_id, p.rank, t.trust,
                   CAST(p.rank - (t.trust * (c.n_docs // c.n_seeds)
                        + (t.trust * (c.n_docs % c.n_seeds)) // c.n_seeds)
                        AS BIGINT) AS spam_mass,
                   CAST((greatest(p.rank - (t.trust * (c.n_docs // c.n_seeds)
                        + (t.trust * (c.n_docs % c.n_seeds)) // c.n_seeds),
                        0) * 10000) // p.rank AS BIGINT) AS rel_mass_bp,
                   ((greatest(p.rank - (t.trust * (c.n_docs // c.n_seeds)
                        + (t.trust * (c.n_docs % c.n_seeds)) // c.n_seeds),
                        0) * 10000) // p.rank)
                        >= {LG.SPAM_MASS_SUSPECT_BP} AS suspect
            FROM pr5 p JOIN tr5 t USING (doc_id) CROSS JOIN c
            ORDER BY p.doc_id
        """),
    # exact-integer HITS (hubs/authorities) over the same ring graph
    # un-normalized HITS: a' = sum h over in-edges, h' = sum a' over
    # out-edges; BIGINT sums are order-independent, the ranking is
    # the consumable (normalization is presentation)
    Face("g_hits",
         lambda s, d: LG.hits(
             read_docs(s, d), LG.synthetic_edges(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql}),
            {_hits_cte}
            SELECT h{_K}.doc_id, h{_K}.h AS hub, a{_K}.a AS authority
            FROM h{_K} JOIN a{_K} USING (doc_id) ORDER BY doc_id
        """),
    # SALSA (Lempel-Moran 2000): the stochastic HITS — degree-
    # normalized floor-div walk, kills the tightly-knit-community
    # amplification (farm-vs-honest pin in pytest)
    # SALSA: the same unrolled chain with degree-normalized floors
    Face("g_salsa",
         lambda s, d: LG.salsa(
             read_docs(s, d), LG.synthetic_edges(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql}),
            {_salsa_cte}
            SELECT sh{_SK}.doc_id, sh{_SK}.h AS hub, sa{_SK}.a AS authority
            FROM sh{_SK} JOIN sa{_SK} USING (doc_id) ORDER BY doc_id
        """),
    # personalized PageRank related-pages (Jeh/Widom 2003): singleton
    # -seed trustrank per seed, top-k excluding the seed
    # PPR: per-seed singleton _rank_cte chains (same builder as
    # pagerank/trustrank), top-k excluding the seed, zero-mass pages
    # are not related
    Face("g_related",
         lambda s, d: LG.related_docs(
             read_docs(s, d), LG.synthetic_edges(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql}),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_ppr_ctes}
            SELECT * FROM ({_ppr_final})
            ORDER BY seed_id, rel_rank
        """),
    # degree-assortativity moments (Newman 2002): exact BIGINT
    # per-edge (outdeg(src), indeg(dst)) moments + covariance sign
    # assortativity: same per-edge degree join, one-row fold
    Face("g_assortativity",
         lambda s, d: LG.assortativity_moments(
             read_docs(s, d), LG.synthetic_edges(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql}),
            od AS (SELECT src, CAST(count(*) AS BIGINT) AS x
                   FROM edges GROUP BY src),
            idg AS (SELECT dst, CAST(count(*) AS BIGINT) AS y
                    FROM edges GROUP BY dst),
            exy AS (
                SELECT od.x, idg.y
                FROM edges e JOIN od ON od.src = e.src
                JOIN idg ON idg.dst = e.dst
            ), m AS (
                SELECT CAST(count(*) AS BIGINT) AS n_edges,
                       CAST(sum(x) AS BIGINT) AS sum_x,
                       CAST(sum(y) AS BIGINT) AS sum_y,
                       CAST(sum(x * y) AS BIGINT) AS sum_xy,
                       CAST(sum(x * x) AS BIGINT) AS sum_x2,
                       CAST(sum(y * y) AS BIGINT) AS sum_y2
                FROM exy
            )
            SELECT *,
                   CAST(n_edges * sum_xy - sum_x * sum_y AS BIGINT)
                       AS cov_num,
                   CAST(sign(n_edges * sum_xy - sum_x * sum_y) AS BIGINT)
                       AS cov_sign
            FROM m
        """),
    # co-citation pairs (shared citing sources) + one-row graph audit
    # co-citation: self-join on the citing source, ordered pair count
    Face("g_cocitation",
         lambda s, d: LG.cocitation_pairs(
             LG.synthetic_edges(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql})
            SELECT a.dst AS dst_a, b.dst AS dst_b,
                   CAST(count(DISTINCT a.src) AS BIGINT) AS n_cociting
            FROM edges a JOIN edges b
              ON a.src = b.src AND a.dst < b.dst
            GROUP BY dst_a, dst_b HAVING count(DISTINCT a.src) >= 2
            ORDER BY dst_a, dst_b
        """),
    # one-row graph audit; n_reciprocal counts edges (incl. duplicate
    # edges) whose reverse exists — EXISTS = the left_semi twin
    Face("g_graph_stats",
         lambda s, d: LG.graph_stats(
             LG.synthetic_edges(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql})
            SELECT CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
                   CAST((SELECT count(DISTINCT src) FROM edges) AS BIGINT) AS n_srcs,
                   CAST((SELECT count(DISTINCT dst) FROM edges) AS BIGINT) AS n_dsts,
                   CAST((SELECT max(c) FROM (
                        SELECT count(*) AS c FROM edges GROUP BY src) t)
                        AS BIGINT) AS max_outdeg,
                   CAST((SELECT max(c) FROM (
                        SELECT count(*) AS c FROM edges GROUP BY dst) t)
                        AS BIGINT) AS max_indeg,
                   CAST((SELECT count(*) FROM edges e WHERE EXISTS (
                        SELECT 1 FROM edges r
                        WHERE r.src = e.dst AND r.dst = e.src))
                        AS BIGINT) AS n_reciprocal
        """),
    # BFS crawl depth from the vetted seed set (fetch waves to reach
    # each page; absent = outside the horizon)
    # BFS seed depth: depth-bounded recursive walk, min(d) per node —
    # the CTE twin of the iterative min-depth propagation (seed mod
    # and horizon interpolated)
    Face("g_seed_depth",
         lambda s, d: LG.seed_distance(
             read_docs(s, d), LG.synthetic_edges(read_docs(s, d))
         ),
         f"""
            WITH RECURSIVE edges AS ({edges_sql}),
            walk(node, d) AS (
                SELECT doc_id, 0 FROM documents
                WHERE doc_id % {LG.TRUST_SEED_MOD} = 0
                UNION
                SELECT e.dst, w.d + 1
                FROM walk w JOIN edges e ON e.src = w.node
                WHERE w.d < {LG.SEED_DEPTH_HOPS}
            )
            SELECT node AS doc_id, CAST(min(d) AS BIGINT) AS depth
            FROM walk GROUP BY node ORDER BY doc_id
        """),
    # host-graph compression: one host map on BOTH endpoints, intra-host
    # self-loops dropped, distinct linking pages counted
    # host-graph compression: the ring edges mapped through the SAME
    # canon host map on both endpoints, self-loops dropped, distinct
    # linking pages counted (the cocitation distinct-citer doctrine)
    Face("g_host_graph",
         lambda s, d: (lambda lg, docs: lg.host_graph(
             lg.synthetic_edges(docs),
             weburl.canonicalize(weburl.with_synthetic_urls(docs))
             .select("doc_id", "host"),
         ))(LG,
            read_docs(s, d)),
         f"""
            WITH {url_cte},
            edges AS ({edges_sql}),
            j AS (
                SELECT cs.host AS src_host, cd.host AS dst_host, e.src
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            )
            SELECT src_host, dst_host,
                   CAST(count(*) AS BIGINT) AS n_links,
                   CAST(count(DISTINCT src) AS BIGINT) AS n_src_pages
            FROM j GROUP BY src_host, dst_host ORDER BY src_host, dst_host
        """),
    # weighted label propagation over the compressed host graph: the
    # community face next to PageRank popularity / TrustRank spam —
    # fixed synchronous rounds, neighbor-only votes, (weight desc,
    # label asc) argmax as one struct-min groupBy per round
    # weighted LPA over the host graph: undirected weight = summed
    # bidirectional n_links (exact BIGINT); K unrolled synchronous
    # rounds, neighbor-only votes, isolated hosts self-labeled
    Face("g_communities",
         lambda s, d: (lambda lg, docs: lg.host_communities(
             lg.synthetic_edges(docs),
             weburl.canonicalize(weburl.with_synthetic_urls(docs))
             .select("doc_id", "host"),
         ))(LG,
            read_docs(s, d)),
         f"""
            WITH {url_cte},
            edges AS ({edges_sql}),
            hg AS (
                SELECT cs.host AS a, cd.host AS b, count(*) AS nl
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host GROUP BY 1, 2
            ),
            ue AS (
                SELECT a, b, CAST(sum(nl) AS BIGINT) AS w FROM (
                    SELECT a, b, nl FROM hg
                    UNION ALL SELECT b AS a, a AS b, nl FROM hg)
                GROUP BY a, b
            ),
            nodes AS (SELECT DISTINCT host FROM canon),
            lab0 AS (SELECT host, host AS label FROM nodes){_lpa_rounds_sql},
            sizes AS (
                SELECT label, CAST(count(*) AS BIGINT) AS community_size
                FROM {_lpa_prev} GROUP BY label
            )
            SELECT l.host, l.label AS community, s.community_size
            FROM {_lpa_prev} l JOIN sizes s USING (label)
            ORDER BY l.host
        """),
    # host-graph reciprocity (one-row structural stat; spam-ring jump
    # detector)
    # reciprocity: distinct host pairs self-joined on the swapped key
    Face("g_reciprocity",
         lambda s, d: (lambda lg, docs: lg.graph_reciprocity(
             lg.synthetic_edges(docs),
             weburl.canonicalize(weburl.with_synthetic_urls(docs))
             .select("doc_id", "host"),
         ))(LG,
            read_docs(s, d)),
         f"""
            WITH {url_cte},
            edges AS ({edges_sql}),
            hg AS (
                SELECT DISTINCT cs.host AS s, cd.host AS d
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            r AS (
                SELECT count(*) AS recip FROM hg a
                WHERE EXISTS (SELECT 1 FROM hg b
                              WHERE b.s = a.d AND b.d = a.s)
            ),
            n AS (SELECT count(*) AS n_edges FROM hg)
            SELECT CAST(n.n_edges AS BIGINT) AS n_edges,
                   CAST(r.recip AS BIGINT) AS n_reciprocated,
                   CAST(CASE WHEN n.n_edges = 0 THEN 0
                             ELSE (10000 * r.recip) // n.n_edges END
                        AS BIGINT) AS reciprocity_bp
            FROM n, r
        """),
    # per-host triangle count + local clustering coefficient over the
    # undirected simple host graph — the link-farm detector (cliques
    # cluster, editorial hubs don't); degree-ordered orientation
    # bounds the wedge join's fan-out under power-law skew
    # triangles: same undirected host edges, degree-ordered
    # orientation via row comparison (deg, host) — the literal twin of
    # the Spark struct key; wedges close through an EXISTS on the
    # oriented table, corners explode via UNION ALL
    Face("g_triangles",
         lambda s, d: (lambda lg, docs: lg.host_triangles(
             lg.synthetic_edges(docs),
             weburl.canonicalize(weburl.with_synthetic_urls(docs))
             .select("doc_id", "host"),
         ))(LG,
            read_docs(s, d)),
         f"""
            WITH {url_cte},
            edges AS ({edges_sql}),
            und AS (
                SELECT DISTINCT least(cs.host, cd.host) AS a,
                                greatest(cs.host, cd.host) AS b
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            deg AS (
                SELECT host, CAST(count(*) AS BIGINT) AS degree FROM (
                    SELECT a AS host FROM und
                    UNION ALL SELECT b AS host FROM und)
                GROUP BY host
            ),
            o AS (
                SELECT CASE WHEN (da.degree, u.a) < (db.degree, u.b)
                            THEN u.a ELSE u.b END AS u,
                       CASE WHEN (da.degree, u.a) < (db.degree, u.b)
                            THEN u.b ELSE u.a END AS v,
                       CASE WHEN (da.degree, u.a) < (db.degree, u.b)
                            THEN db.degree ELSE da.degree END AS dv
                FROM und u
                JOIN deg da ON da.host = u.a
                JOIN deg db ON db.host = u.b
            ),
            tris AS (
                SELECT o1.u, o1.v, o2.v AS w
                FROM o o1 JOIN o o2 ON o2.u = o1.u
                WHERE (o1.dv, o1.v) < (o2.dv, o2.v)
                  AND EXISTS (SELECT 1 FROM o o3
                              WHERE o3.u = o1.v AND o3.v = o2.v)
            ),
            tcount AS (
                SELECT host, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                    SELECT u AS host FROM tris
                    UNION ALL SELECT v AS host FROM tris
                    UNION ALL SELECT w AS host FROM tris)
                GROUP BY host
            ),
            nodes AS (SELECT DISTINCT host FROM canon)
            SELECT n.host,
                   CAST(coalesce(d.degree, 0) AS BIGINT) AS degree,
                   CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
                   CAST(CASE WHEN coalesce(d.degree, 0) >= 2
                             THEN (20000 * coalesce(t.n_triangles, 0))
                                  // (d.degree * (d.degree - 1))
                             ELSE 0 END AS BIGINT) AS cc_bp
            FROM nodes n
            LEFT JOIN deg d USING (host)
            LEFT JOIN tcount t USING (host)
            ORDER BY n.host
        """),
    # exact k-core numbers via iterated neighborhood h-index (Lü et
    # al. 2016) — the farm detector raw degree overstates (a 10^4-
    # satellite hub is core 1; a dense mutual-link neighborhood is
    # high-core); fixed rounds, engine-asserted convergence
    Face("g_kcore",
         lambda s, d: (lambda lg, docs: lg.host_kcore(
             lg.synthetic_edges(docs),
             weburl.canonicalize(weburl.with_synthetic_urls(docs))
             .select("doc_id", "host"),
         ))(LG,
            read_docs(s, d)),
         f"""
            WITH {url_cte},
            edges AS ({edges_sql}),
            und AS (
                SELECT DISTINCT least(cs.host, cd.host) AS a,
                                greatest(cs.host, cd.host) AS b
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            sym AS (
                SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b AS u, a AS v FROM und
            ),
            kh0 AS (SELECT u, CAST(count(*) AS BIGINT) AS val
                    FROM sym GROUP BY u){_kcore_rounds_sql}
            SELECT n.host, CAST(coalesce(h.val, 0) AS BIGINT) AS core
            FROM (SELECT DISTINCT host FROM canon) n
            LEFT JOIN {_kcore_last} h ON h.u = n.host
            ORDER BY n.host
        """),
    # harmonic centrality (Boldi-Vigna axioms): exact 1/d fold over
    # the SAME layered-BFS reach set as g_neighborhood — incoming
    # distances, micro-unit integers, zeros for unreached hosts
    # k-core: degrees seed kh0, then KCORE_ROUNDS unrolled h-index
    # updates — the literal twin of the Spark loop (same tie-broken
    # row_number, same >=-rank fold)
    # harmonic centrality: the same recursive bounded-BFS pair set,
    # folded per DESTINATION as sum(1e6 // d) in exact micro-units;
    # left join keeps unreached hosts at zero
    Face("g_harmonic",
         lambda s, d: (lambda lg, docs: lg.host_harmonic(
             lg.synthetic_edges(docs),
             weburl.canonicalize(weburl.with_synthetic_urls(docs))
             .select("doc_id", "host"),
         ))(LG,
            read_docs(s, d)),
         f"""
            WITH RECURSIVE {url_cte},
            edges AS ({edges_sql}),
            hg AS (
                SELECT DISTINCT cs.host AS src, cd.host AS dst
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            nodes AS (SELECT DISTINCT host FROM canon),
            reach(src, dst, d) AS (
                SELECT host, host, 0 FROM nodes
                UNION
                SELECT r.src, h.dst, r.d + 1
                FROM reach r JOIN hg h ON r.dst = h.src
                WHERE r.d < {LG.NEIGHBORHOOD_T}
            ),
            pairs AS (
                SELECT src, dst, min(d) AS t FROM reach GROUP BY src, dst
            ),
            h AS (
                SELECT dst AS host,
                       CAST(count(*) AS BIGINT) AS n_sources,
                       CAST(sum(1000000 // t) AS BIGINT) AS h_micro
                FROM pairs WHERE t > 0 GROUP BY dst
            )
            SELECT n.host,
                   CAST(coalesce(h.n_sources, 0) AS BIGINT) AS n_sources,
                   CAST(coalesce(h.h_micro, 0) AS BIGINT) AS h_micro
            FROM nodes n LEFT JOIN h ON h.host = n.host
            ORDER BY h_micro DESC, n.host
        """),
    # exact neighborhood function N(t) + effective diameter (the
    # HyperBall curve, Boldi-Vigna): all-sources layered BFS on the
    # compressed host graph, one join+distinct+anti-join per level
    # neighborhood function: recursive bounded BFS over the directed
    # host graph; min(d) per ordered pair is the exact distance (a
    # shortest path's prefix is a shortest path), cumulative windows
    # give N(t), integer basis points + first-crossing flag mark the
    # 90% effective diameter — the literal twin of the Spark layering
    Face("g_neighborhood",
         lambda s, d: (lambda lg, docs: lg.host_neighborhood(
             lg.synthetic_edges(docs),
             weburl.canonicalize(weburl.with_synthetic_urls(docs))
             .select("doc_id", "host"),
         ))(LG,
            read_docs(s, d)),
         f"""
            WITH RECURSIVE {url_cte},
            edges AS ({edges_sql}),
            hg AS (
                SELECT DISTINCT cs.host AS src, cd.host AS dst
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            nodes AS (SELECT DISTINCT host FROM canon),
            reach(src, dst, d) AS (
                SELECT host, host, 0 FROM nodes
                UNION
                SELECT r.src, h.dst, r.d + 1
                FROM reach r JOIN hg h ON r.dst = h.src
                WHERE r.d < {LG.NEIGHBORHOOD_T}
            ),
            pairs AS (
                SELECT src, dst, min(d) AS t FROM reach GROUP BY src, dst
            ),
            per_t AS (
                SELECT t, CAST(count(*) AS BIGINT) AS new_pairs
                FROM pairs GROUP BY t
            ),
            cum AS (
                SELECT t, new_pairs,
                       CAST(sum(new_pairs) OVER (ORDER BY t) AS BIGINT)
                           AS n_pairs,
                       CAST(sum(new_pairs) OVER () AS BIGINT) AS total
                FROM per_t
            )
            SELECT CAST(t AS BIGINT) AS t, new_pairs, n_pairs,
                   CAST(n_pairs * 10000 // total AS BIGINT) AS pct_bp,
                   (n_pairs * 10000 // total >= 9000
                    AND coalesce(lag(n_pairs * 10000 // total)
                                 OVER (ORDER BY t), 0) < 9000)
                       AS is_eff_diameter
            FROM cum ORDER BY t
        """),
    # log2-binned degree histogram of the host graph: the power-law
    # audit, exact-integer bins via length(bin(deg))-1
    # degree histogram: distinct-pair host graph, floor(log2) bins via
    # the shared length(bin(x))-1 integer-log idiom
    Face("g_degree_dist",
         lambda s, d: (lambda lg, docs: lg.degree_distribution(
             lg.synthetic_edges(docs),
             weburl.canonicalize(weburl.with_synthetic_urls(docs))
             .select("doc_id", "host"),
         ))(LG,
            read_docs(s, d)),
         f"""
            WITH {url_cte},
            edges AS ({edges_sql}),
            hg AS (
                SELECT DISTINCT cs.host AS s, cd.host AS d
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            degs AS (
                SELECT 'out' AS direction, s AS h, count(*) AS deg
                FROM hg GROUP BY s
                UNION ALL
                SELECT 'in' AS direction, d AS h, count(*) AS deg
                FROM hg GROUP BY d
            )
            SELECT direction, CAST(length(bin(deg)) - 1 AS INT) AS bin,
                   CAST(count(*) AS BIGINT) AS n_hosts,
                   CAST(min(deg) AS BIGINT) AS min_deg,
                   CAST(max(deg) AS BIGINT) AS max_deg
            FROM degs GROUP BY direction, bin ORDER BY direction, bin
        """),
    # Broder bow-tie decomposition of the host graph: core/in/out/other
    # relative to the min-host pivot's SCC, two bounded reachability
    # sweeps on the compressed graph
    # bow-tie: fwd/bwd depth-bounded recursive reachability from the
    # min-host pivot over the distinct host edges; region = flag CASE
    Face("g_bowtie",
         lambda s, d: (lambda lg, docs: lg.bowtie(
             lg.synthetic_edges(docs),
             weburl.canonicalize(weburl.with_synthetic_urls(docs))
             .select("doc_id", "host"),
         ))(LG,
            read_docs(s, d)),
         f"""
            WITH RECURSIVE {url_cte},
            edges AS ({edges_sql}),
            hg AS (
                SELECT DISTINCT cs.host AS s, cd.host AS d
                FROM edges e
                JOIN canon cs ON cs.doc_id = e.src
                JOIN canon cd ON cd.doc_id = e.dst
                WHERE cs.host <> cd.host
            ),
            piv AS (SELECT min(h) AS p FROM
                    (SELECT s AS h FROM hg UNION SELECT d FROM hg)),
            fw(host, dep) AS (
                SELECT p, 0 FROM piv
                UNION
                SELECT hg.d, dep + 1 FROM fw JOIN hg ON hg.s = fw.host
                WHERE dep < {LG.BOWTIE_HOPS}
            ),
            bw(host, dep) AS (
                SELECT p, 0 FROM piv
                UNION
                SELECT hg.s, dep + 1 FROM bw JOIN hg ON hg.d = bw.host
                WHERE dep < {LG.BOWTIE_HOPS}
            ),
            f AS (SELECT DISTINCT host FROM fw),
            b AS (SELECT DISTINCT host FROM bw),
            nodes AS (SELECT DISTINCT host FROM canon)
            SELECT n.host,
                   CASE WHEN f.host IS NOT NULL AND b.host IS NOT NULL THEN 'core'
                        WHEN b.host IS NOT NULL THEN 'in'
                        WHEN f.host IS NOT NULL THEN 'out'
                        ELSE 'other' END AS region
            FROM nodes n
            LEFT JOIN f ON f.host = n.host
            LEFT JOIN b ON b.host = n.host
            ORDER BY n.host
        """),
    # crawl-frontier assembly: robots ∩ quota ∩ pagerank, per-host queues
    # crawl-frontier assembly — the composed twin of u_robots (allowed
    # pages + delays) ∩ u_domain_quota (cap 5/reg-domain) ∩ g_pagerank
    # (priority), so drift in ANY stage fails this hash too
    Face("g_frontier",
         lambda s, d: LG.frontier_schedule(
             read_docs(s, d)
         ),
         f"""
            WITH {url_cte},
            cpath AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{weburl.CANON_PATH_RE}', 1) AS path
                FROM canon
            ),
{rules_cte},
            alw AS (
                SELECT c.doc_id, c.host, r.crawl_delay_ms
                FROM cpath c JOIN rules r USING (host)
                WHERE r.disallow_prefix IS NULL
                   OR NOT starts_with(c.path, r.disallow_prefix)
            ),
            quota AS (
                SELECT doc_id, reg_domain FROM (
                    SELECT c.doc_id, r.reg_domain,
                           row_number() OVER (PARTITION BY r.reg_domain
                                              ORDER BY c.doc_id) AS qr
                    FROM canon c JOIN reg r USING (host)
                ) t WHERE qr <= 5
            ),
            edges AS ({edges_sql}),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_pr_cte},
            fr AS (
                SELECT a.doc_id, a.host, a.crawl_delay_ms, q.reg_domain, p.rank
                FROM alw a JOIN quota q USING (doc_id) JOIN pr5 p USING (doc_id)
            )
            SELECT doc_id, host, reg_domain, rank,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) AS BIGINT) AS fetch_slot,
                   CAST((row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) - 1) * crawl_delay_ms
                        AS BIGINT) AS fetch_at_ms
            FROM fr ORDER BY doc_id
        """),
    # frontier v2: ranking-integrity rules layered on — rank on
    # FOLLOWED edges only, spam-mass suspects demoted BEFORE slot
    # assignment (no hole in the politeness spacing)
    # frontier v2: the SAME robots/quota/slot skeleton as g_frontier,
    # but edges are the followed subset of the rel-formula links, and
    # pr5/tr5 over that subset feed the spam-mass demotion filter
    Face("g_frontier2",
         lambda s, d: LG.frontier_schedule_v2(
             read_docs(s, d)
         ),
         f"""
            WITH {url_cte},
            cpath AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{weburl.CANON_PATH_RE}', 1) AS path
                FROM canon
            ),
{rules_cte},
            alw AS (
                SELECT c.doc_id, c.host, r.crawl_delay_ms
                FROM cpath c JOIN rules r USING (host)
                WHERE r.disallow_prefix IS NULL
                   OR NOT starts_with(c.path, r.disallow_prefix)
            ),
            quota AS (
                SELECT doc_id, reg_domain FROM (
                    SELECT c.doc_id, r.reg_domain,
                           row_number() OVER (PARTITION BY r.reg_domain
                                              ORDER BY c.doc_id) AS qr
                    FROM canon c JOIN reg r USING (host)
                ) t WHERE qr <= 5
            ),
            edges AS (
                SELECT src, dst FROM ({" UNION ALL ".join(
                    f"SELECT doc_id AS src, "
                    f"(doc_id * {m} + {a}) % "
                    f"(SELECT count(*) FROM documents) AS dst, "
                    f"(doc_id + {k}) % 5 AS r FROM documents"
                    for k, (m, a) in enumerate(LG.LINK_PARAMS))})
                WHERE r >= 3
            ),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_pr_cte},
            {_tr_cte},
            c2 AS (
                SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(CASE WHEN doc_id % {LG.TRUST_SEED_MOD} = 0
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds
                FROM documents
            ),
            sus AS (
                SELECT p.doc_id
                FROM pr5 p JOIN tr5 t USING (doc_id) CROSS JOIN c2 c
                WHERE (greatest(p.rank
                        - (t.trust * (c.n_docs // c.n_seeds)
                           + (t.trust * (c.n_docs % c.n_seeds))
                             // c.n_seeds), 0) * 10000) // p.rank
                      >= {LG.SPAM_MASS_SUSPECT_BP}
            ),
            fr AS (
                SELECT a.doc_id, a.host, a.crawl_delay_ms, q.reg_domain,
                       p.rank
                FROM alw a JOIN quota q USING (doc_id)
                JOIN pr5 p USING (doc_id)
                WHERE a.doc_id NOT IN (SELECT doc_id FROM sus)
            )
            SELECT doc_id, host, reg_domain, rank,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) AS BIGINT) AS fetch_slot,
                   CAST((row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) - 1) * crawl_delay_ms
                        AS BIGINT) AS fetch_at_ms
            FROM fr ORDER BY doc_id
        """),
    # the REAL crawl cycle: REAL Arrow extraction picks the ok docs,
    # the quality gate picks the crawl-worthy ones, then outlinks ->
    # PageRank -> robots ∩ quota over the surviving subgraph only
    # the REAL crawl cycle (r2 verdict item 2): frontier fed from the
    # extraction funnel — frozen core-path extraction statuses pick the
    # 'ok' docs, the quality-gate twin picks the crawl-worthy ones, and
    # robots/quota/PageRank run over the surviving subgraph only; a
    # drift in extraction, gate, link extraction, ranking, robots, or
    # quota all fail this one hash
    Face("g_corpus_frontier",
         lambda s, d: LG.corpus_frontier(
             read_docs(s, d), docs_as_pages(s, d), run_ts=RUN_TS
         ),
         f"""
            WITH exp AS (SELECT * FROM {extract_cte}),
            ok AS (
                SELECT CAST(regexp_extract(url, '/([0-9]+)$', 1) AS BIGINT) AS doc_id
                FROM exp WHERE status = 'ok'
            ),
            {gate_cte_for("documents")},
            crawlable AS (
                SELECT d.* FROM documents d
                JOIN gated g USING (doc_id)
                WHERE g.reasons = ''
                  AND d.doc_id IN (SELECT doc_id FROM ok)
            ),
            {url_cte_for("crawlable")},
            cpath AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{weburl.CANON_PATH_RE}', 1) AS path
                FROM canon
            ),
{rules_cte},
            alw AS (
                SELECT c.doc_id, c.host, r.crawl_delay_ms
                FROM cpath c JOIN rules r USING (host)
                WHERE r.disallow_prefix IS NULL
                   OR NOT starts_with(c.path, r.disallow_prefix)
            ),
            quota AS (
                SELECT doc_id, reg_domain FROM (
                    SELECT c.doc_id, r.reg_domain,
                           row_number() OVER (PARTITION BY r.reg_domain
                                              ORDER BY c.doc_id) AS qr
                    FROM canon c JOIN reg r USING (host)
                ) t WHERE qr <= 5
            ),
            edges_all AS ({edges_sql}),
            edges AS (
                SELECT src, dst FROM edges_all
                WHERE src IN (SELECT doc_id FROM crawlable)
                  AND dst IN (SELECT doc_id FROM crawlable)
            ),
            deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
            {_rank_cte("pr", "rank", str(LG.UNIT), str(LG.BASE), nodes="crawlable")},
            fr AS (
                SELECT a.doc_id, a.host, a.crawl_delay_ms, q.reg_domain, p.rank
                FROM alw a JOIN quota q USING (doc_id) JOIN pr5 p USING (doc_id)
            )
            SELECT doc_id, host, reg_domain, rank,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) AS BIGINT) AS fetch_slot,
                   CAST((row_number() OVER (PARTITION BY host
                        ORDER BY rank DESC, doc_id) - 1) * crawl_delay_ms
                        AS BIGINT) AS fetch_at_ms
            FROM fr ORDER BY doc_id
        """),
]
