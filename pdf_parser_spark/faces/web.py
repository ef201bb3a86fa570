"""Web/URL faces: canonicalization, SURT/CDX, robots and sitemaps, crawl
admission and budgets, trap/soft-404 audits, redirects and canonicals,
link extraction, head metadata and snapshot diffs."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_parser_spark.faces import Face
from pdf_parser_spark.faces.shared import (
    TOKS,
    edges_sql,
    quality_sql,
    read_docs,
    rules_cte,
    url_cte,
)
from pdf_parser_spark.operators import (
    htmlmeta as HM,
    linkgraph as LG,
    snapshot as SN,
    weburl,
)


# registered domains dropped by the u_blocklist driver query (match actual
# reg_domains produced by weburl.with_synthetic_urls at any sf)
BLOCKED_DOMAINS = ["src3.example.com", "src5.co.uk", "src7.io", "src11.org"]


def _cdx_lookup_join(spark, sf_dir):
    """Composable CDX lookup (r3 verdict item 5): write the sorted
    range-partitioned capture shards, then resolve a FRAME of
    authorities (every 7th doc's authority) through the pure-plan
    broadcast range join — boundary frame x authority windows pick the
    hit files, the capture scan broadcast-hash-joins on file with the
    SURT-prefix residual; no driver action inside the composed query."""
    import shutil
    import tempfile

    from pdf_parser_spark.operators import weburl as wu

    docs = read_docs(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="cdxjoin_")
    try:
        bounds = wu.write_cdx(docs, work, n_shards=4)
        auth = (
            wu.surt_key(wu.canonicalize(wu.with_synthetic_urls(docs)))
            .where(F.col("doc_id") % 7 == 0)
            .select(F.substring_index("surt", ")", 1).alias("authority"))
            .distinct()
        )
        out = wu.cdx_lookup_join(spark, work, bounds, auth).persist()
        out.count()  # materialize before the shard dir is deleted
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


# synthetic <head>, the literal twin of htmlmeta.with_head_html
_title_sql = f"coalesce(array_to_string(({TOKS})[1:5], ' '), '')"

_head_html_sql = f"""
        '<html><head><meta charset="'
        || (CASE doc_id % 4 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'UTF-8'
                 WHEN 2 THEN 'iso-8859-1' ELSE 'windows-1252' END)
        || '"><title>' || {_title_sql} || '</title>'
        || (CASE WHEN doc_id % 4 <> 1
                 THEN '<meta name="description" content="'
                      || coalesce(array_to_string(({TOKS})[1:8], ' '), '') || '">'
                 ELSE '' END)
        || (CASE WHEN doc_id % 3 <> 0
                 THEN '<link rel="canonical" href="https://' || source
                      || '.example.com/doc/' || doc_id || '">'
                 ELSE '' END)
        || (CASE WHEN doc_id % 5 < 2
                 THEN '<meta property="og:title" content="'
                      || upper({_title_sql}) || '">'
                 ELSE '' END)
        || '</head><body><p>' || substr(text, 1, 60) || '</p></body></html>'
    """

# SURT key as one SQL fragment over canon.canonical_url (shared by
# u_surt and u_cdx_index so the two faces cannot drift)
_surt_hostport = "regexp_extract(canonical_url, '^[a-z]+://([^/]+)', 1)"

_surt_sql = (
    "array_to_string(list_reverse(string_split(regexp_replace("
    f"regexp_extract({_surt_hostport}, '^([^:]*)', 1), "
    "'^www\\.', ''), '.')), ',')"
    f" || regexp_extract({_surt_hostport}, '(:[0-9]+)$', 1)"
    " || ')' || regexp_extract(canonical_url, '^[a-z]+://[^/]+(.*)$', 1)"
)


FACES = [
    # per-domain quality prior (CCNet/RefinedWeb): exact integer bp
    # mean of the shared soft-quality formula, min-docs trust gate
    # domain quality prior: the SAME quality_sql fragment as
    # t_quality_score (x 10^4 into exact integer bp), the same url/reg
    # CTEs as u_domain_rollup, one group rollup with an integer-div
    # mean and the min-docs trust gate (constant interpolated)
    Face("u_domain_quality",
         lambda s, d: weburl.domain_quality_prior(
             read_docs(s, d)
         ),
         f"""
            WITH {url_cte},
            q AS (
                SELECT doc_id,
                       CAST(round({quality_sql()} * 10000) AS BIGINT) AS bp
                FROM documents
            )
            SELECT r.reg_domain,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(q.bp) // count(*) AS BIGINT) AS mean_quality_bp,
                   count(*) >= {weburl.DOMAIN_PRIOR_MIN_DOCS} AS prior_trusted
            FROM canon c JOIN reg r USING (host) JOIN q USING (doc_id)
            GROUP BY r.reg_domain ORDER BY r.reg_domain
        """),
    # global fetch budget apportioned across trusted domains by prior
    # weight — Hamilton largest-remainder, exact-sum invariant
    # crawl-budget apportionment: the SAME prior chain as
    # u_domain_quality (shared quality_sql / url_cte fragments,
    # min-docs gate interpolated) feeding Hamilton largest-remainder —
    # base = total*w div W, leftover seats to the largest remainders
    # (rem desc, reg_domain asc).  All-BIGINT, so the exact-sum
    # invariant holds in both engines or the hash fails.
    Face("u_crawl_budget",
         lambda s, d: weburl.crawl_budget(
             weburl.domain_quality_prior(read_docs(s, d))
         ),
         f"""
            WITH {url_cte},
            q AS (
                SELECT doc_id,
                       CAST(round({quality_sql()} * 10000) AS BIGINT) AS bp
                FROM documents
            ),
            pri AS (
                SELECT r.reg_domain,
                       CAST(sum(q.bp) // count(*) AS BIGINT) AS w
                FROM canon c JOIN reg r USING (host) JOIN q USING (doc_id)
                GROUP BY r.reg_domain
                HAVING count(*) >= {weburl.DOMAIN_PRIOR_MIN_DOCS}
            ),
            t AS (
                SELECT reg_domain, w,
                       ({weburl.CRAWL_BUDGET_TOTAL} * w)
                           // (SELECT sum(w) FROM pri) AS base,
                       ({weburl.CRAWL_BUDGET_TOTAL} * w)
                           % (SELECT sum(w) FROM pri) AS rem
                FROM pri
            ),
            rk AS (
                SELECT reg_domain, w, base,
                       row_number() OVER (ORDER BY rem DESC, reg_domain ASC)
                           AS rn,
                       {weburl.CRAWL_BUDGET_TOTAL} - (SELECT sum(base) FROM t)
                           AS leftover
                FROM t
            )
            SELECT reg_domain,
                   CAST(w AS BIGINT) AS weight_bp,
                   CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0 END
                        AS BIGINT) AS budget
            FROM rk ORDER BY reg_domain
        """),
    # crawler-trap url audit (depth / repeated segment / runaway
    # pagination / session id) — all-JVM scan rules
    Face("u_trap_urls",
         lambda s, d: weburl.trap_url_audit(
             weburl.with_trap_urls(read_docs(s, d))
         ),
         f"""
            WITH syn AS (
                SELECT doc_id,
                    'https://site' || CAST(doc_id % 10 AS VARCHAR)
                    || '.example.com' || CASE doc_id % 7
                      WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/j/' || doc_id
                      WHEN 2 THEN '/cal/2026/2026/2026/' || doc_id
                      WHEN 3 THEN '/list?page=' || (doc_id + 50000)
                      WHEN 4 THEN '/item?sid=' || md5(CAST(doc_id AS VARCHAR))
                      ELSE '/docs/' || doc_id END AS url
                FROM documents
            ), parsed AS (
                SELECT doc_id, url,
                       list_filter(regexp_split_to_array(
                           regexp_extract(url, '{weburl.URL_RE}', 4), '/'),
                           s -> s <> '') AS segs,
                       TRY_CAST(nullif(regexp_extract(
                           url, '{weburl.TRAP_PAGE_RE}', 1), '') AS BIGINT) AS pg,
                       regexp_extract(url, '{weburl.TRAP_HEX_ID_RE}', 0) <> ''
                           AS hexid
                FROM syn
            ), flags AS (
                SELECT doc_id, url,
                       concat_ws(';',
                         CASE WHEN len(segs) > {weburl.TRAP_MAX_DEPTH}
                              THEN 'deep_path' END,
                         CASE WHEN len(segs) >= 2 AND len(list_filter(
                                  range(1, len(segs)),
                                  i -> segs[i] = segs[i+1])) > 0
                              THEN 'repeated_segment' END,
                         CASE WHEN coalesce(pg, 0) > {weburl.TRAP_MAX_PAGE}
                              THEN 'runaway_pagination' END,
                         CASE WHEN hexid THEN 'session_id' END
                       ) AS trap_reasons
                FROM parsed
            )
            SELECT doc_id, url, trap_reasons,
                   trap_reasons <> '' AS is_trap
            FROM flags ORDER BY doc_id
        """),
    # per-host URL templates ({h}/{d} slot mining + explosion gate):
    # the template-level face of the trap problem
    # trap-url audit: formula-synthesized urls, the SAME regex/threshold
    # constants, and list-lambda adjacency for the repeated-segment rule
    # (RE2 has no backreferences — mirrors the Spark array lambdas)
    # url templates: the SAME trap synthesis, hex-then-digit slot
    # collapse with the shared patterns ('g' = DuckDB's global-replace
    # flag; Spark's regexp_replace is global by default), one group
    # rollup with the interpolated explosion gate
    Face("u_url_templates",
         lambda s, d: weburl.url_templates(
             weburl.with_trap_urls(read_docs(s, d))
         ),
         f"""
            WITH syn AS (
                SELECT doc_id,
                    'https://site' || CAST(doc_id % 10 AS VARCHAR)
                    || '.example.com' || CASE doc_id % 7
                      WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/j/' || doc_id
                      WHEN 2 THEN '/cal/2026/2026/2026/' || doc_id
                      WHEN 3 THEN '/list?page=' || (doc_id + 50000)
                      WHEN 4 THEN '/item?sid=' || md5(CAST(doc_id AS VARCHAR))
                      ELSE '/docs/' || doc_id END AS url
                FROM documents
            ), tpl AS (
                SELECT regexp_extract(url, '{weburl.URL_RE}', 2) AS host,
                       regexp_replace(regexp_replace(
                           regexp_extract(url, '{weburl.URL_RE}', 4)
                               || coalesce(regexp_extract(url, '{weburl.URL_RE}', 5), ''),
                           '{weburl.TEMPLATE_HEX_RE}', '{{h}}', 'g'),
                           '{weburl.TEMPLATE_DIGIT_RE}', '{{d}}', 'g') AS template,
                       url
                FROM syn
            )
            SELECT host, template,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT url) AS BIGINT) AS n_distinct,
                   count(DISTINCT url) >= {weburl.TEMPLATE_EXPLOSION_MIN}
                       AS explosive
            FROM tpl GROUP BY host, template ORDER BY host, template
        """),
    # per-template duplicate-content rates: template mining x exact
    # fingerprints -> cap the TEMPLATE, not urls one by one
    # template dup rates: the trap-url synthesis + the {h}/{d} slot
    # collapse + md5(text) distinct counts per (host, template)
    Face("u_template_dup",
         lambda s, d: weburl.template_dup_rates(
             weburl.with_trap_urls(read_docs(s, d))
         ),
         f"""
            WITH syn AS (
                SELECT doc_id, text,
                    'https://site' || CAST(doc_id % 10 AS VARCHAR)
                    || '.example.com' || CASE doc_id % 7
                      WHEN 1 THEN '/a/b/c/d/e/f/g/h/i/j/' || doc_id
                      WHEN 2 THEN '/cal/2026/2026/2026/' || doc_id
                      WHEN 3 THEN '/list?page=' || (doc_id + 50000)
                      WHEN 4 THEN '/item?sid=' || md5(CAST(doc_id AS VARCHAR))
                      ELSE '/docs/' || doc_id END AS url
                FROM documents
            ), parsed AS (
                SELECT regexp_extract(url, '{weburl.URL_RE}', 2) AS host,
                       regexp_replace(regexp_replace(
                           regexp_extract(url, '{weburl.URL_RE}', 4)
                           || regexp_extract(url, '{weburl.URL_RE}', 5),
                           '{weburl.TEMPLATE_HEX_RE}', '{{h}}', 'g'),
                           '{weburl.TEMPLATE_DIGIT_RE}', '{{d}}', 'g')
                           AS template,
                       md5(text) AS fp
                FROM syn
            )
            SELECT host, template,
                   CAST(count(*) AS BIGINT) AS n_urls,
                   CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
                   CAST(10000 * (count(*) - count(DISTINCT fp))
                        // count(*) AS BIGINT) AS dup_bp
            FROM parsed GROUP BY host, template
            ORDER BY host, template
        """),
    # soft-404 detection (Bar-Yossef WWW 2004 probe trick, the crawl's
    # own hard 404s as the free probes): error-title regexp + host
    # error-template length band, broadcast host dim
    # soft-404 audit: synthesis mirrored (hosts, statuses, titles,
    # template lengths), then the op's two rules verbatim — per-host
    # MIN over hard-error lengths as the template profile, phrase
    # regexp + tolerance band on the 200-status stream
    Face("u_soft404",
         lambda s, d: weburl.soft404_audit(
             weburl.with_fetch_log(read_docs(s, d))
         ),
         f"""
            WITH syn AS (
                SELECT doc_id, doc_id % 10 AS h,
                       400 + (doc_id % 10) * 7 AS tmpl,
                       (doc_id % 13 = 0 OR doc_id % 17 = 0) AS is_hard,
                       (NOT (doc_id % 13 = 0 OR doc_id % 17 = 0))
                           AND doc_id % 11 = 0 AS is_soft
                FROM documents
            ), log AS (
                SELECT doc_id,
                    'https://site' || h || '.example.com/docs/' || doc_id
                        AS url,
                    'site' || h || '.example.com' AS host,
                    CASE WHEN doc_id % 13 = 0 THEN 404
                         WHEN doc_id % 17 = 0 THEN 410 ELSE 200 END
                        AS status,
                    CASE WHEN is_hard THEN '404 Not Found - site' || h
                         WHEN is_soft AND doc_id % 22 = 0
                             THEN 'Oops! Page Not Found'
                         WHEN NOT is_hard AND NOT is_soft
                                  AND doc_id % 23 = 0
                             THEN 'Error 404 - doc ' || doc_id
                         ELSE 'Doc ' || doc_id END AS title,
                    CAST(CASE WHEN is_hard THEN tmpl + doc_id % 3
                              WHEN is_soft THEN tmpl + doc_id % 5
                              ELSE 2000 + (doc_id * 37) % 1500 END
                         AS BIGINT) AS content_len
                FROM syn
            ), tm AS (
                SELECT host, MIN(content_len) AS template_len
                FROM log WHERE status IN (404, 410) GROUP BY host
            ), flags AS (
                SELECT l.doc_id, l.url, l.host, l.status, l.content_len,
                       t.template_len,
                       concat_ws(';',
                         CASE WHEN regexp_matches(l.title,
                                  '{weburl.SOFT404_TITLE_RE}')
                              THEN 'error_title' END,
                         CASE WHEN t.template_len IS NOT NULL
                                  AND abs(l.content_len - t.template_len)
                                      <= {weburl.SOFT404_LEN_TOL}
                              THEN 'template_len' END
                       ) AS soft404_reasons
                FROM log l LEFT JOIN tm t USING (host)
                WHERE l.status = 200
            )
            SELECT doc_id, url, host, status, content_len, template_len,
                   soft404_reasons, soft404_reasons <> '' AS is_soft404
            FROM flags ORDER BY doc_id
        """),
    # typosquat/homoglyph domain audit: FastSS 1-deletion postings
    # blocking + UTS-39-style skeleton channel, exact levenshtein
    # verify, defended top-N broadcast — never all-pairs
    # typosquat audit: synthesis mirrored (brand = source||'mart',
    # %9==5 docs mutate by %4 kind), then both channels verbatim —
    # 1-deletion postings join (DISTINCT absorbs duplicate variants
    # that Spark's array_union dedupes in-array) + skeleton equality,
    # exact levenshtein verify
    Face("u_typosquat",
         lambda s, d: weburl.typosquat_audit(
             weburl.with_brand_domains(read_docs(s, d))
         ),
         f"""
            WITH syn AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 9 = 5 THEN
                         CASE doc_id % 4
                           WHEN 0 THEN substr(b,1,1) || substr(b,3)
                           WHEN 1 THEN substr(b,1,2) || substr(b,2)
                           WHEN 2 THEN substr(b,1,1) || substr(b,3,1)
                                    || substr(b,2,1) || substr(b,4)
                           ELSE replace(b, 'm', 'rn') END
                       ELSE b END AS sld
                FROM (SELECT doc_id, source || 'mart' AS b FROM documents)
            ), counts AS (
                SELECT sld, CAST(count(*) AS BIGINT) AS n_docs
                FROM syn GROUP BY sld
            ), ranked AS (
                SELECT sld, n_docs,
                       row_number() OVER (ORDER BY n_docs DESC, sld) AS rk
                FROM counts
            ), defended AS (
                SELECT sld AS defended_sld FROM ranked
                WHERE rk <= {weburl.TYPO_DEFENDED_N}
            ), cands AS (
                SELECT c.sld AS candidate_sld, c.n_docs FROM counts c
                WHERE c.sld NOT IN (SELECT defended_sld FROM defended)
            ), dpost AS (
                SELECT unnest(list_append(list_transform(
                           range(1, len(defended_sld) + 1),
                           i -> substr(defended_sld, 1, i - 1)
                                || substr(defended_sld, i + 1)),
                       defended_sld)) AS variant,
                       defended_sld
                FROM defended
            ), cpost AS (
                SELECT unnest(list_append(list_transform(
                           range(1, len(candidate_sld) + 1),
                           i -> substr(candidate_sld, 1, i - 1)
                                || substr(candidate_sld, i + 1)),
                       candidate_sld)) AS variant,
                       candidate_sld
                FROM cands
            ), pairs_a AS (
                SELECT DISTINCT c.candidate_sld, d.defended_sld
                FROM cpost c JOIN dpost d USING (variant)
            ), pairs_b AS (
                SELECT c.candidate_sld, d.defended_sld
                FROM cands c JOIN defended d
                  ON replace(c.candidate_sld, 'rn', 'm')
                     = replace(d.defended_sld, 'rn', 'm')
            ), pairs AS (
                SELECT * FROM pairs_a UNION SELECT * FROM pairs_b
            ), verified AS (
                SELECT p.candidate_sld, p.defended_sld,
                       CAST(levenshtein(p.candidate_sld, p.defended_sld)
                            AS BIGINT) AS lev,
                       CAST(len(p.candidate_sld) - len(p.defended_sld)
                            AS BIGINT) AS len_delta,
                       replace(p.candidate_sld, 'rn', 'm')
                           = replace(p.defended_sld, 'rn', 'm')
                           AS is_homoglyph
                FROM pairs p
            )
            SELECT v.candidate_sld, v.defended_sld, v.lev, v.len_delta,
                   v.is_homoglyph, c.n_docs
            FROM verified v JOIN cands c USING (candidate_sld)
            WHERE v.lev <= {weburl.TYPO_MAX_LEV} OR v.is_homoglyph
            ORDER BY candidate_sld, defended_sld
        """),
    # RFC 9111 revalidation policy ladder: no-store/private >
    # max-age > validators > heuristic (a crawler is a SHARED cache)
    # http cache policy: the ladder re-derived from the synthesis
    # flavors; private composes over max-age (k=0 AND %7==0 ->
    # refetch), the precedence the op must enforce in order
    Face("u_http_cache",
         lambda s, d: weburl.http_cache_policy(
             weburl.with_http_headers(read_docs(s, d))
         ),
         f"""
            WITH syn AS (
                SELECT doc_id, doc_id % 5 AS k,
                       doc_id % 7 = 0 AS priv
                FROM documents
            )
            SELECT doc_id,
                   'https://site' || (doc_id % 10)
                       || '.example.com/docs/' || doc_id AS url,
                   CASE WHEN k = 1 OR priv THEN 'refetch'
                        WHEN k = 0 THEN 'ttl'
                        WHEN k IN (2, 3) THEN 'revalidate'
                        ELSE 'heuristic' END AS policy,
                   CAST(CASE WHEN k = 1 OR priv THEN -1
                        WHEN k = 0 THEN (doc_id % 10 + 1) * 600
                        WHEN k IN (2, 3) THEN -1
                        ELSE {weburl.HTTP_HEURISTIC_TTL_S} END AS BIGINT)
                       AS ttl_s,
                   CASE WHEN k = 1 OR priv OR k = 0 THEN ''
                        WHEN k = 2 THEN 'if-none-match'
                        WHEN k = 3 THEN 'if-modified-since'
                        ELSE '' END AS validator
            FROM syn ORDER BY doc_id
        """),
    # composed recrawl verdict: dead pages out (hard then soft 404)
    # before the RFC 9111 ladder routes survivors — stage interaction
    # under ONE hash
    # composed recrawl verdict: the soft404 CTE chain + the cache
    # flavor dims feeding one CASE ladder — precedence across stages
    # (never honor max-age on a soft-404) is what this face checks
    Face("u_recrawl_decision",
         lambda s, d: weburl.recrawl_decision(
             read_docs(s, d)
         ),
         f"""
            WITH syn AS (
                SELECT doc_id, doc_id % 10 AS h,
                       400 + (doc_id % 10) * 7 AS tmpl,
                       (doc_id % 13 = 0 OR doc_id % 17 = 0) AS is_hard,
                       (NOT (doc_id % 13 = 0 OR doc_id % 17 = 0))
                           AND doc_id % 11 = 0 AS is_soft
                FROM documents
            ), log AS (
                SELECT doc_id,
                    'https://site' || h || '.example.com/docs/' || doc_id
                        AS url,
                    'site' || h || '.example.com' AS host,
                    CASE WHEN doc_id % 13 = 0 THEN 404
                         WHEN doc_id % 17 = 0 THEN 410 ELSE 200 END
                        AS status,
                    CASE WHEN is_hard THEN '404 Not Found - site' || h
                         WHEN is_soft AND doc_id % 22 = 0
                             THEN 'Oops! Page Not Found'
                         WHEN NOT is_hard AND NOT is_soft
                                  AND doc_id % 23 = 0
                             THEN 'Error 404 - doc ' || doc_id
                         ELSE 'Doc ' || doc_id END AS title,
                    CAST(CASE WHEN is_hard THEN tmpl + doc_id % 3
                              WHEN is_soft THEN tmpl + doc_id % 5
                              ELSE 2000 + (doc_id * 37) % 1500 END
                         AS BIGINT) AS content_len
                FROM syn
            ), tm AS (
                SELECT host, MIN(content_len) AS template_len
                FROM log WHERE status IN (404, 410) GROUP BY host
            ), soft AS (
                SELECT l.doc_id,
                       (regexp_matches(l.title, '{weburl.SOFT404_TITLE_RE}')
                        OR (t.template_len IS NOT NULL
                            AND abs(l.content_len - t.template_len)
                                <= {weburl.SOFT404_LEN_TOL})) AS is_soft404
                FROM log l LEFT JOIN tm t USING (host)
                WHERE l.status = 200
            ), hp AS (
                SELECT doc_id, doc_id % 5 AS k,
                       doc_id % 7 = 0 AS priv
                FROM documents
            ), dec AS (
                SELECT l.doc_id, l.url,
                       CASE WHEN l.status IN (404, 410)
                                THEN 'drop_hard_error'
                            WHEN coalesce(sf.is_soft404, false)
                                THEN 'drop_soft404'
                            WHEN hp.k = 1 OR hp.priv THEN 'refetch'
                            WHEN hp.k = 0 THEN 'skip_fresh'
                            WHEN hp.k IN (2, 3) THEN 'conditional_get'
                            ELSE 'refetch_heuristic' END AS action,
                       hp.k
                FROM log l
                LEFT JOIN soft sf USING (doc_id)
                JOIN hp USING (doc_id)
            )
            SELECT doc_id, url, action,
                   CASE WHEN action = 'conditional_get' AND k = 2
                            THEN 'if-none-match'
                        WHEN action = 'conditional_get' AND k = 3
                            THEN 'if-modified-since'
                        ELSE '' END AS validator
            FROM dec ORDER BY doc_id
        """),
    # RFC 3986 §5.2.4 dot-segment removal: one string fold, root
    # clamp, directory-ness preserved
    # dot segments: the SAME ''-seeded fold via list_reduce; the
    # synthesis flavors re-derived
    Face("u_dot_segments",
         lambda s, d: weburl.remove_dot_segments(
             weburl.with_dot_urls(read_docs(s, d))
         ),
         f"""
            WITH syn AS (
                SELECT doc_id,
                       CASE doc_id % 6
                         WHEN 0 THEN '/a/./b/' || doc_id
                         WHEN 1 THEN '/a/b/../c/' || doc_id
                         WHEN 2 THEN '/../x/' || doc_id
                         WHEN 3 THEN '/a/b/c/../../d/' || doc_id
                         WHEN 4 THEN '/a/b/.'
                         ELSE '/docs/' || doc_id END AS path,
                       'https://site' || (doc_id % 10)
                           || '.example.com' AS base
                FROM documents
            ), folded AS (
                SELECT doc_id, base || path AS url, path,
                       list_reduce(
                           list_prepend('', list_filter(
                               regexp_split_to_array(path, '/'),
                               s -> s <> '')),
                           (acc, x) -> CASE
                               WHEN x = '.' THEN acc
                               WHEN x = '..' THEN
                                    regexp_replace(acc, '/[^/]*$', '')
                               ELSE acc || '/' || x END) AS f
                FROM syn
            )
            SELECT doc_id, url,
                   CASE WHEN f = '' THEN '/'
                        WHEN regexp_matches(path, '(/|/\.|/\.\.)$')
                            THEN f || '/'
                        ELSE f END AS clean_path
            FROM folded ORDER BY doc_id
        """),
    # RFC 9309 §2.2.2 longest-match Allow/Disallow decisions: rules
    # parsed from real bytes (shared group resolution), one struct-max
    # per url
    # robots Allow decision: rules predicted from the injection formula
    # (the engine parses real bytes through the shared group resolver);
    # longest-match with the allow tie-break as a window rank
    Face("u_robots_allow",
         lambda s, d: (lambda canon: weburl.robots_decision(
             canon,
             weburl.parse_robots_rules(
                 weburl.with_robots_allow(canon.select("host").distinct())
             ),
         ))(weburl.canonicalize(weburl.with_synthetic_urls(read_docs(s, d)))),
         f"""
            WITH {url_cte},
            hr AS (SELECT DISTINCT host FROM canon),
            rules AS (
                SELECT host, 'disallow' AS kind, '/docs/' AS prefix FROM hr
                UNION ALL
                SELECT host, 'allow', '/docs/1' FROM hr WHERE len(host) % 2 = 0
                UNION ALL
                SELECT host, 'disallow', '/a/' FROM hr WHERE len(host) % 3 = 0
            ), up AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{weburl.URL_RE}', 4) AS p
                FROM canon
            ), m AS (
                SELECT doc_id, kind, length(prefix) AS l,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY length(prefix) DESC,
                                    CASE WHEN kind = 'allow' THEN 0 ELSE 1 END)
                           AS rn
                FROM up JOIN rules USING (host)
                WHERE starts_with(p, prefix)
            )
            SELECT u.doc_id,
                   CASE WHEN m.kind IS NULL OR m.kind = 'allow'
                        THEN true ELSE false END AS allowed,
                   coalesce(m.kind, '') AS match_kind,
                   CAST(coalesce(m.l, 0) AS BIGINT) AS match_len
            FROM (SELECT DISTINCT doc_id FROM up) u
            LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (doc_id)
            ORDER BY u.doc_id
        """),
    # tracking-param mining on the RAW url stream (upstream of the
    # canonicalizer whose drop list this table would grow)
    # param audit: raw query strings re-derived from the synthesis
    # formula, split/exploded with the same last-'=' value rule
    Face("u_param_audit", lambda s, d: weburl.param_audit(read_docs(s, d)),
         f"""
            WITH u AS (
                SELECT doc_id, {weburl.URL_SYNTH_SQL} AS url FROM documents
            ), q AS (
                SELECT doc_id,
                       regexp_extract(url, '{weburl.URL_RE}', 5) AS query_s
                FROM u
            ), kv AS (
                SELECT doc_id,
                       unnest(string_split(substring(query_s, 2), '&')) AS pair
                FROM q WHERE query_s <> ''
            ), agg AS (
                SELECT split_part(pair, '=', 1) AS param,
                       count(*) AS n_urls,
                       count(DISTINCT regexp_extract(pair, '([^=]*)$', 1))
                           AS n_distinct_values
                FROM kv GROUP BY 1
            )
            SELECT param, CAST(n_urls AS BIGINT) AS n_urls,
                   CAST(n_distinct_values AS BIGINT) AS n_distinct_values,
                   CAST((10000 * n_distinct_values) // n_urls AS BIGINT)
                       AS distinct_bp,
                   (n_urls >= {weburl.PARAM_TRACK_MIN_URLS}
                    AND (10000 * n_distinct_values) // n_urls
                        >= {weburl.PARAM_TRACK_MIN_BP}) AS tracking_suspect
            FROM agg ORDER BY param
        """),
    # wildcard robots grammar: '*' spans + trailing '$' anchor, raw
    # pattern length ranks, parsed from real bytes
    # wildcard robots: the oracle predicts the rule set from the
    # synthesis formula and matches with hand-anchored RE2 regexes —
    # if the engine's pattern->regex translation behaves differently
    # on any path, the decisions diverge and the hash fails; ranking
    # is raw pattern length (6 / 8 / 6), allow wins ties
    Face("u_robots_wild",
         lambda s, d: (lambda canon: weburl.robots_decision_wildcard(
             canon,
             weburl.parse_robots_rules(
                 weburl.with_robots_wildcards(canon.select("host").distinct())
             ),
         ))(weburl.canonicalize(weburl.with_synthetic_urls(read_docs(s, d)))),
         f"""
            WITH {url_cte},
            hr AS (SELECT DISTINCT host FROM canon),
            rules AS (
                SELECT host, 'disallow' AS kind, 6 AS plen,
                       '^/docs/' AS rx FROM hr
                UNION ALL
                SELECT host, 'allow', 8, '^/docs/.*1' FROM hr
                WHERE len(host) % 2 = 0
                UNION ALL
                SELECT host, 'disallow', 6, '^/a/.*7$' FROM hr
                WHERE len(host) % 3 = 0
            ), up AS (
                SELECT doc_id, host,
                       regexp_extract(canonical_url, '{weburl.URL_RE}', 4) AS p
                FROM canon
            ), m AS (
                SELECT doc_id, kind, plen,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY plen DESC,
                                    CASE WHEN kind = 'allow' THEN 0 ELSE 1 END)
                           AS rn
                FROM up JOIN rules USING (host)
                WHERE regexp_matches(p, rx)
            )
            SELECT u.doc_id,
                   CASE WHEN m.kind IS NULL OR m.kind = 'allow'
                        THEN true ELSE false END AS allowed,
                   coalesce(m.kind, '') AS match_kind,
                   CAST(coalesce(m.plen, 0) AS BIGINT) AS match_len
            FROM (SELECT DISTINCT doc_id FROM up) u
            LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (doc_id)
            ORDER BY u.doc_id
        """),
    # sitemap discovery: Sitemap: lines parsed out of REAL robots bytes
    # (RFC 9309 §2.3), one multiline regexp on the per-host dim
    # sitemap discovery: the engine regexp-parses real robots bytes;
    # the oracle predicts the declared urls from the injection formula
    # (every host /sitemap.xml; even-length hosts add the news sitemap)
    Face("u_sitemap_discovery",
         lambda s, d: weburl.discover_sitemaps(
             weburl.with_robots_sitemaps(
                 weburl.canonicalize(weburl.with_synthetic_urls(read_docs(s, d)))
                 .select("host").distinct()
             )
         ),
         f"""
            WITH {url_cte},
            h AS (SELECT DISTINCT host FROM canon),
            sm AS (
                SELECT host, 'https://' || host || '/sitemap.xml' AS sitemap_url
                FROM h
                UNION ALL
                SELECT host, 'https://' || host || '/news-sitemap.xml'
                FROM h WHERE len(host) % 2 = 0
            )
            SELECT host, sitemap_url FROM sm ORDER BY host, sitemap_url
        """),
    Face("u_canonicalize",
         lambda s, d: weburl.registered_domain(
             weburl.canonicalize(weburl.with_synthetic_urls(read_docs(s, d)))
         ).select("doc_id", "url", "canonical_url", "host", "reg_domain")
         .orderBy("doc_id"),
         f"""
            WITH {url_cte}
            SELECT c.doc_id, c.url, c.canonical_url, c.host, r.reg_domain
            FROM canon c JOIN reg r USING (host)
            ORDER BY c.doc_id
        """),
    Face("u_domain_rollup",
         lambda s, d: weburl.domain_rollup(
             weburl.with_synthetic_urls(read_docs(s, d))
         ),
         f"""
            WITH {url_cte}
            SELECT r.reg_domain,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT c.host) AS BIGINT) AS n_hosts,
                   CAST(sum(length(c.text)) AS BIGINT) AS total_chars,
                   CAST(count(DISTINCT c.lang) AS BIGINT) AS n_langs
            FROM canon c JOIN reg r USING (host)
            GROUP BY r.reg_domain ORDER BY r.reg_domain
        """),
    # hreflang translation clusters: real regexp extraction -> shared
    # canonicalize on the declared hrefs -> url-dim resolve (dangling
    # declarations drop like 404s) -> symmetrized transitive closure
    # hreflang clusters: declaration chains predicted from the group
    # formula, resolved through the SAME canon map (url collisions
    # merge identically on both sides), closed with the d_components
    # recursive-CTE shape; singletons coalesce to self
    Face("u_hreflang", lambda s, d: weburl.hreflang_clusters(read_docs(s, d)),
         f"""
            WITH RECURSIVE {url_cte},
            decl AS (
                SELECT doc_id, doc_id - 1 AS tgt FROM documents
                WHERE doc_id % {weburl.HREFLANG_GROUP} <> 0 AND doc_id >= 1
            ),
            e0 AS (
                SELECT d.doc_id AS a, c2.doc_id AS b
                FROM decl d
                JOIN canon c1 ON c1.doc_id = d.tgt
                JOIN canon c2 ON c2.canonical_url = c1.canonical_url
                WHERE c2.doc_id <> d.doc_id
            ),
            edges AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
            reach(node, r) AS (
                SELECT a, a FROM edges
                UNION
                SELECT e.a, r.r FROM reach r JOIN edges e ON e.b = r.node
            ),
            comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
            lab AS (
                SELECT d.doc_id, d.lang,
                       coalesce(c.component, d.doc_id) AS cluster
                FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
            ),
            sz AS (
                SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
                       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
                FROM lab GROUP BY cluster
            )
            SELECT l.doc_id, l.cluster, s.n_members, s.n_langs
            FROM lab l JOIN sz s USING (cluster) ORDER BY l.doc_id
        """),
    # SURT keys (Common Crawl / CDX sort order): reversed comma-joined
    # host labels, one leading www. folded, non-default port kept
    # SURT: reversed comma-joined host labels (one leading www. folded),
    # non-default port kept, ')' + path+query — recomputed from the
    # shared canon CTE's canonical_url with the same regex splits
    Face("u_surt",
         lambda s, d: weburl.surt_key(
             weburl.canonicalize(weburl.with_synthetic_urls(read_docs(s, d)))
         ).select("doc_id", "canonical_url", "surt").orderBy("doc_id"),
         f"""
            WITH {url_cte}
            SELECT doc_id, canonical_url, {_surt_sql} AS surt
            FROM canon ORDER BY doc_id
        """),
    # the cluster-index face: authority-prefix rollup proving one
    # authority = one contiguous SURT range
    # authority rollup: one authority = one contiguous SURT range
    Face("u_cdx_index",
         lambda s, d: weburl.cdx_authority_index(read_docs(s, d)),
         f"""
            WITH {url_cte},
            s AS (SELECT doc_id, canonical_url, {_surt_sql} AS surt FROM canon)
            SELECT regexp_extract(surt, '^([^)]*)', 1) AS authority,
                   CAST(count(*) AS BIGINT) AS n_captures,
                   CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_urls,
                   min(surt) AS min_surt, max(surt) AS max_surt
            FROM s GROUP BY 1 ORDER BY 1
        """),
    # the composable READ face: a frame of authorities resolved via
    # boundary-frame broadcast range join (no driver action in-plan)
    # composable CDX lookup: every 7th doc's authority, all captures
    # under each (starts_with mirrors the Spark residual predicate)
    Face("u_cdx_lookup_join", _cdx_lookup_join, f"""
            WITH {url_cte},
            s AS (SELECT doc_id, canonical_url, {_surt_sql} AS surt FROM canon),
            auth AS (
                SELECT DISTINCT regexp_extract(surt, '^([^)]*)', 1) AS authority
                FROM s WHERE doc_id % 7 = 0
            )
            SELECT a.authority, s.surt, s.canonical_url, s.doc_id
            FROM s JOIN auth a ON starts_with(s.surt, a.authority || ')')
            ORDER BY a.authority, s.surt
        """),
    Face("u_blocklist",
         lambda s, d: weburl.blocklist_filter(
             weburl.with_synthetic_urls(read_docs(s, d)), BLOCKED_DOMAINS
         ).select("doc_id", "reg_domain").orderBy("doc_id"),
         f"""
            WITH {url_cte}
            SELECT c.doc_id, r.reg_domain
            FROM canon c JOIN reg r USING (host)
            WHERE r.reg_domain NOT IN ({", ".join(f"'{b}'" for b in BLOCKED_DOMAINS)})
            ORDER BY c.doc_id
        """),
    # the whole crawl admission gate under ONE hash: blocklist ->
    # trap shape -> robots disallow -> per-domain quota in production
    # order, first_block attributing each rejection to the FIRST
    # stage that fired (quota ranks count survivors only)
    # admission chain: canon/reg/rules fragments + the trap flags over
    # the raw synthetic url, fixed-order first_block CASE, survivor
    # -only running quota count — the literal twin of the Spark chain
    Face("u_crawl_admission",
         lambda s, d: weburl.crawl_admission(
             weburl.with_synthetic_urls(read_docs(s, d)), BLOCKED_DOMAINS
         ),
         f"""
            WITH {url_cte},
            cpath AS (
                SELECT doc_id, host, url,
                       regexp_extract(canonical_url, '{weburl.CANON_PATH_RE}', 1)
                           AS path
                FROM canon
            ),
{rules_cte},
            tparse AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(
                           regexp_extract(url, '{weburl.URL_RE}', 4), '/'),
                           s -> s <> '') AS segs,
                       TRY_CAST(nullif(regexp_extract(
                           url, '{weburl.TRAP_PAGE_RE}', 1), '') AS BIGINT) AS pg,
                       regexp_extract(url, '{weburl.TRAP_HEX_ID_RE}', 0) <> ''
                           AS hexid
                FROM cpath
            ),
            tf AS (
                SELECT doc_id,
                       concat_ws(';',
                         CASE WHEN len(segs) > {weburl.TRAP_MAX_DEPTH}
                              THEN 'deep_path' END,
                         CASE WHEN len(segs) >= 2 AND len(list_filter(
                                  range(1, len(segs)),
                                  i -> segs[i] = segs[i+1])) > 0
                              THEN 'repeated_segment' END,
                         CASE WHEN coalesce(pg, 0) > {weburl.TRAP_MAX_PAGE}
                              THEN 'runaway_pagination' END,
                         CASE WHEN hexid THEN 'session_id' END
                       ) <> '' AS trap
                FROM tparse
            ),
            fl AS (
                SELECT c.doc_id, c.host, r.reg_domain,
                       r.reg_domain IN ({", ".join(f"'{b}'"
                                                   for b in BLOCKED_DOMAINS)})
                           AS bl,
                       t.trap,
                       (ru.disallow_prefix IS NOT NULL
                        AND starts_with(c.path, ru.disallow_prefix)) AS rob
                FROM cpath c
                JOIN reg r USING (host)
                JOIN rules ru USING (host)
                JOIN tf t USING (doc_id)
            ),
            rk AS (
                SELECT *,
                       count(CASE WHEN NOT bl AND NOT trap AND NOT rob
                                  THEN 1 END)
                           OVER (PARTITION BY reg_domain ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS qrank
                FROM fl
            )
            SELECT doc_id, host, reg_domain,
                   CASE WHEN bl THEN 'blocklist'
                        WHEN trap THEN 'trap'
                        WHEN rob THEN 'robots'
                        WHEN qrank > {weburl.ADMISSION_QUOTA} THEN 'quota'
                        ELSE '' END = '' AS admitted,
                   CASE WHEN bl THEN 'blocklist'
                        WHEN trap THEN 'trap'
                        WHEN rob THEN 'robots'
                        WHEN qrank > {weburl.ADMISSION_QUOTA} THEN 'quota'
                        ELSE '' END AS first_block
            FROM rk ORDER BY doc_id
        """),
    # robots.txt politeness: disallow-prefix filter + per-host
    # crawl-delay schedule over the canonicalized corpus
    # robots politeness: rules derived from distinct hosts (len-mod
    # formulas standing in for fetched robots.txt), disallow-prefix
    # filter on the canonical path, per-host (k-1)*delay schedule
    Face("u_robots",
         lambda s, d: weburl.robots_filter(
             weburl.canonicalize(weburl.with_synthetic_urls(read_docs(s, d)))
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
                SELECT c.doc_id, c.host, c.path, r.crawl_delay_ms
                FROM cpath c JOIN rules r USING (host)
                WHERE r.disallow_prefix IS NULL
                   OR NOT starts_with(c.path, r.disallow_prefix)
            )
            SELECT doc_id, host, path, crawl_delay_ms,
                   CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id) - 1)
                        * crawl_delay_ms AS BIGINT) AS fetch_offset_ms
            FROM alw ORDER BY doc_id
        """),
    # frontier partitioning: hosts hash to fetcher lanes (a host never
    # spans two fetchers), per-lane politeness-budget + megahost audit
    # lanes: the SAME allow chain folded per host, md5-hash lane
    # assignment, integer-bp budget shares
    Face("u_fetcher_lanes",
         lambda s, d: weburl.fetcher_lanes(
             weburl.canonicalize(weburl.with_synthetic_urls(read_docs(s, d)))
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
            ), per_host AS (
                SELECT host, crawl_delay_ms,
                       CAST(count(*) AS BIGINT) AS n_urls
                FROM alw GROUP BY host, crawl_delay_ms
            ), lanes AS (
                SELECT ((CAST(('0x' || substr(md5(host), 1, 8)) AS BIGINT)
                         % {weburl.FETCHER_LANES}) + {weburl.FETCHER_LANES})
                       % {weburl.FETCHER_LANES} AS lane,
                       n_urls,
                       CAST(n_urls * crawl_delay_ms AS BIGINT) AS host_ms
                FROM per_host
            ), per_lane AS (
                SELECT lane,
                       CAST(count(*) AS BIGINT) AS n_hosts,
                       CAST(sum(n_urls) AS BIGINT) AS n_urls,
                       CAST(sum(host_ms) AS BIGINT) AS busy_ms,
                       CAST(max(host_ms) AS BIGINT) AS max_host_ms
                FROM lanes GROUP BY lane
            ), tot AS (SELECT CAST(sum(busy_ms) AS BIGINT) AS t_ms FROM per_lane)
            SELECT lane, n_hosts, n_urls, busy_ms, max_host_ms,
                   CAST((10000 * busy_ms) // greatest(t_ms, 1) AS BIGINT)
                       AS share_bp
            FROM per_lane CROSS JOIN tot ORDER BY lane
        """),
    # per-host politeness-queue latency report under the ACTUAL
    # arrival process: max-plus closed form (shared verbatim with the
    # streaming limiter via with_arrivals) rolled to the host dim —
    # drain time, queueing waits, bottleneck rank
    # politeness-queue audit: the max-plus closed form (st_rate_limit's
    # oracle) rolled to the host dim + the bottleneck rank window
    Face("u_crawl_plan",
         lambda s, d: weburl.crawl_queue_audit(read_docs(s, d)),
         f"""
            WITH {url_cte},
{rules_cte},
            arr AS (
                SELECT c.doc_id, c.host,
                       CAST((c.doc_id * 137) % {__import__("pdf_parser_spark.streaming.ratelimit", fromlist=["x"]).ARRIVAL_MOD} AS BIGINT)
                           AS arrival_ms,
                       CAST(r.crawl_delay_ms AS BIGINT) AS delay_ms
                FROM canon c JOIN rules r USING (host)
            ),
            rk AS (
                SELECT *, row_number() OVER (PARTITION BY host
                              ORDER BY arrival_ms, doc_id) AS n
                FROM arr
            ),
            em AS (
                SELECT *, delay_ms * n
                          + max(arrival_ms - delay_ms * n)
                            OVER (PARTITION BY host ORDER BY n
                                  ROWS UNBOUNDED PRECEDING) AS emit_ms
                FROM rk
            ),
            ph AS (
                SELECT host, delay_ms,
                       CAST(count(*) AS BIGINT) AS n_urls,
                       CAST(min(arrival_ms) AS BIGINT) AS first_arrival_ms,
                       CAST(max(emit_ms) AS BIGINT) AS drain_ms,
                       CAST(sum(emit_ms - arrival_ms) AS BIGINT)
                           AS total_wait_ms,
                       CAST(max(emit_ms - arrival_ms) AS BIGINT)
                           AS max_wait_ms
                FROM em GROUP BY host, delay_ms
            )
            SELECT host, n_urls, delay_ms, first_arrival_ms, drain_ms,
                   total_wait_ms, max_wait_ms,
                   CAST(row_number() OVER (ORDER BY drain_ms DESC, host)
                        AS BIGINT) AS drain_rank
            FROM ph ORDER BY host
        """),
    # robots.txt PARSED from raw bytes (RFC 9309 group semantics); the
    # synthesized text reproduces the formula rules, so the parse is
    # hash-held to the same dim robots_filter consumes
    # the parsed robots dim must equal the len(host) formula dim the
    # text synthesis encodes (Spark does text->RFC-9309-parse; the
    # oracle derives the rules directly — a parser bug breaks the hash)
    Face("u_robots_parsed",
         lambda s, d: weburl.parse_robots(
             weburl.with_robots_txt(
                 weburl.canonicalize(weburl.with_synthetic_urls(read_docs(s, d)))
                 .select("host").distinct()
             )
         ).select(
             "host",
             F.coalesce("disallow_prefix", F.lit("")).alias("disallow_prefix"),
             "crawl_delay_ms",
         ).orderBy("host"),
         f"""
            WITH {url_cte}
            SELECT host,
                   coalesce({weburl.ROBOTS_DISALLOW_SQL}, '') AS disallow_prefix,
                   {weburl.ROBOTS_DELAY_SQL} AS crawl_delay_ms
            FROM (SELECT DISTINCT host FROM canon) h ORDER BY host
        """),
    # sitemap.xml ingestion: loc/lastmod pairs + freshest-first rank
    # sitemap entries re-derived from the per-host formulas; rank order
    # (lastmod desc, loc asc) must survive the zip + explode
    Face("u_sitemap",
         lambda s, d: weburl.parse_sitemap(
             weburl.with_sitemaps(
                 weburl.canonicalize(weburl.with_synthetic_urls(read_docs(s, d)))
                 .select("host").distinct()
             )
         ),
         f"""
            WITH {url_cte},
            hosts AS (SELECT DISTINCT host FROM canon),
            en AS (
                SELECT host, unnest(range(0, len(host) % 4 + 2)) AS i FROM hosts
            ),
            pairs AS (
                SELECT host,
                       'https://' || host || '/page/' || i AS loc,
                       '2024-0' || ((i % 9) + 1) || '-01' AS lastmod
                FROM en
            )
            SELECT host, loc, lastmod,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY lastmod DESC, loc) AS BIGINT) AS recrawl_rank
            FROM pairs ORDER BY host, recrawl_rank
        """),
    # sitemap INDEX expansion (sitemaps.org §Index): mixed fleet —
    # even-length hosts serve an index of child shards, odd a plain
    # urlset; one global per-host rank across shards
    # sitemap index expansion: even-length hosts shard into
    # SITEMAP_CHILDREN child urlsets (k = (len+ord)%3+1 urls each),
    # odd-length hosts keep the plain urlset formula; ONE rank per
    # host across shards
    Face("u_sitemap_index",
         lambda s, d: weburl.sitemap_expand(
             weburl.with_sitemap_index(
                 weburl.canonicalize(weburl.with_synthetic_urls(read_docs(s, d)))
                 .select("host").distinct()
             )
         ),
         f"""
            WITH {url_cte},
            hosts AS (SELECT DISTINCT host FROM canon),
            plainu AS (
                SELECT host,
                       'https://' || host || '/page/' || i AS loc,
                       '2024-0' || ((i % 9) + 1) || '-01' AS lastmod
                FROM (SELECT host,
                             unnest(range(0, len(host) % 4 + 2)) AS i
                      FROM hosts WHERE len(host) % 2 = 1)
            ),
            childu AS (
                SELECT host,
                       'https://' || host || '/s' || o || '/p' || i AS loc,
                       '2024-0' || (((i + o) % 9) + 1) || '-15' AS lastmod
                FROM (
                    SELECT host, o,
                           unnest(range(0, (len(host) + o) % 3 + 1)) AS i
                    FROM (SELECT host,
                                 unnest(range(0,
                                     {weburl.SITEMAP_CHILDREN})) AS o
                          FROM hosts WHERE len(host) % 2 = 0)
                )
            ),
            un AS (SELECT * FROM plainu UNION ALL SELECT * FROM childu)
            SELECT host, loc, lastmod,
                   CAST(row_number() OVER (PARTITION BY host
                        ORDER BY lastmod DESC, loc) AS BIGINT)
                       AS recrawl_rank
            FROM un ORDER BY host, recrawl_rank
        """),
    # per-site quota: at most 5 docs per registered domain
    # per-site quota: rank within registered domain, keep <= 5
    Face("u_domain_quota",
         lambda s, d: weburl.domain_quota(
             weburl.with_synthetic_urls(read_docs(s, d))
         ),
         f"""
            WITH {url_cte},
            ranked AS (
                SELECT c.doc_id, r.reg_domain,
                       CAST(row_number() OVER (PARTITION BY r.reg_domain
                                               ORDER BY c.doc_id) AS BIGINT)
                           AS quota_rank
                FROM canon c JOIN reg r USING (host)
            )
            SELECT doc_id, reg_domain, quota_rank FROM ranked
            WHERE quota_rank <= 5 ORDER BY doc_id
        """),
    Face("u_snapshot_diff",
         lambda s, d: SN.snapshot_diff(
             *SN.demo_snapshots(read_docs(s, d))
         ),
         """
            WITH old AS (
                SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 2 = 0
            ), new AS (
                SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0
                                        THEN text || ' [rev]' ELSE text END) AS fp
                FROM documents WHERE doc_id % 5 <> 4
            )
            SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.fp IS NULL THEN 'added'
                        WHEN n.fp IS NULL THEN 'removed'
                        WHEN o.fp <> n.fp THEN 'changed'
                        ELSE 'unchanged' END AS change
            FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
            ORDER BY doc_id
        """),
    # link graph: anchors synthesized from doc_id ring formulas; the
    # Spark side runs the full html-assembly + regexp href extraction
    Face("u_outlinks",
         lambda s, d: LG.extract_outlinks(
             LG.with_synthetic_html(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql})
            SELECT src,
                   'https://node' || dst || '.example.com/doc/' || dst AS href,
                   dst
            FROM edges ORDER BY src, href
        """),
    # rel=nofollow/ugc/sponsored link semantics: per-link relation +
    # followed flag (token-list match), attrs parsed order-free
    # rel-hint links: the (doc_id + slot) % 5 relation formula joined
    # to the same ring targets; followed iff no hint token
    Face("u_outlinks_nofollow",
         lambda s, d: LG.extract_outlinks_rel(
                 LG.with_synthetic_html_rel(read_docs(s, d))),
         f"""
            WITH l AS ({" UNION ALL ".join(
                f"SELECT doc_id AS src, "
                f"(doc_id * {m} + {a}) % (SELECT count(*) FROM documents) "
                f"AS dst, (doc_id + {k}) % 5 AS r FROM documents"
                for k, (m, a) in enumerate(LG.LINK_PARAMS))})
            SELECT src,
                   'https://node' || dst || '.example.com/doc/' || dst AS href,
                   dst,
                   CASE r WHEN 0 THEN 'nofollow' WHEN 1 THEN 'ugc'
                        WHEN 2 THEN 'sponsored' ELSE '' END AS rel,
                   r >= 3 AS followed
            FROM l ORDER BY src, href, rel
        """),
    # inverted anchor-text index per link target (sorted-distinct texts)
    # inverted anchor-text index: same ring formulas as u_outlinks plus
    # the per-(src,dst) anchor-text formula; sorted-distinct text set,
    # sliced to the same per-target cap the engine applies (the k
    # lexicographically-smallest distinct texts = the first k of the
    # sorted distinct list), so a cap change can't silently diverge
    Face("u_anchor_text",
         lambda s, d: LG.anchor_text_index(
             LG.with_synthetic_html(read_docs(s, d))
         ),
         f"""
            WITH edges AS ({edges_sql}),
            at AS (
                SELECT src, dst, 'ref' || (src % 3) || '-' || dst AS atext
                FROM edges
            )
            SELECT dst, CAST(count(*) AS BIGINT) AS n_inlinks,
                   CAST(count(DISTINCT src) AS BIGINT) AS n_srcs,
                   coalesce(array_to_string(
                       list_sort(list_distinct(list(atext)))
                           [1:{LG.ANCHOR_MAX_TEXTS}], '|'), '') AS texts
            FROM at GROUP BY dst ORDER BY dst
        """),
    # head-metadata extraction: five fields, one codegen'd regex pass
    # head metadata: oracle rebuilds the identical <head> bytes, then
    # runs the byte-identical regexes (RE2/Java-compatible; Spark's
    # no-match '' matched via coalesce)
    Face("u_head_meta",
         lambda s, d: HM.head_meta(
             HM.with_head_html(read_docs(s, d))
         ),
         f"""
            WITH pages AS (
                SELECT doc_id, {_head_html_sql} AS html FROM documents
            )
            SELECT doc_id,
                   coalesce(regexp_extract(html, '{HM.TITLE_RE}', 1), '') AS title,
                   coalesce(regexp_extract(html, '{HM.CHARSET_RE}', 1), '') AS charset,
                   coalesce(regexp_extract(html, '{HM.DESC_RE}', 1), '') AS description,
                   coalesce(regexp_extract(html, '{HM.CANON_RE}', 1), '') AS canonical,
                   coalesce(regexp_extract(html, '{HM.OG_TITLE_RE}', 1), '') AS og_title
            FROM pages ORDER BY doc_id
        """),
    # adaptive recrawl scheduling: exponential backoff for stable urls
    # SCD2 recrawl history: presence/revision formulas re-derived per
    # (doc_id, ts); segment break on fp change OR presence gap
    # adaptive recrawl: same snapshot-series twin, pair/change counters
    # and the capped power-of-2 backoff (constants interpolate from
    # operators/snapshot.py)
    Face("u_recrawl_schedule",
         lambda s, d: SN.recrawl_schedule(
             SN.snapshot_series(read_docs(s, d))
         ),
         f"""
            WITH snaps AS (
                SELECT d.doc_id, ts.snap_ts,
                       md5(d.text || '#' ||
                           ((ts.snap_ts * (d.doc_id % 3)) // 2)) AS fp
                FROM documents d,
                     (SELECT unnest(range(0, {SN.N_SNAPSHOTS})) AS snap_ts) ts
                WHERE (d.doc_id + ts.snap_ts) % 7 <> 0
            ), lagged AS (
                SELECT doc_id, snap_ts, fp,
                       lag(fp) OVER w AS prev_fp,
                       lag(snap_ts) OVER w AS prev_ts
                FROM snaps WINDOW w AS (PARTITION BY doc_id ORDER BY snap_ts)
            ), per_doc AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_obs,
                       CAST(sum(CASE WHEN prev_ts IS NOT NULL
                                      AND snap_ts = prev_ts + 1
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
                       CAST(sum(CASE WHEN prev_ts IS NOT NULL
                                      AND snap_ts = prev_ts + 1
                                      AND fp <> prev_fp
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
                       CAST(max(snap_ts) AS BIGINT) AS last_ts
                FROM lagged GROUP BY doc_id
            )
            SELECT doc_id, n_obs, n_pairs, n_changes,
                   CAST({SN.RECRAWL_BASE_HOURS} * power(2,
                        least(n_pairs - n_changes,
                              {SN.RECRAWL_MAX_DOUBLINGS})) AS BIGINT)
                       AS interval_hours,
                   CAST(last_ts * 24
                        + {SN.RECRAWL_BASE_HOURS} * power(2,
                          least(n_pairs - n_changes,
                                {SN.RECRAWL_MAX_DOUBLINGS})) AS BIGINT)
                       AS next_fetch_ts
            FROM per_doc ORDER BY doc_id
        """),
    # redirect-chain resolution: terminal url per source in O(log L)
    # pointer-doubling shuffles; oracle walks the same chains with a
    # recursive CTE (the synthesized graph is acyclic by construction;
    # the cycle guard is pytest-pinned engine-side)
    Face("u_redirect_resolve",
         lambda s, d: weburl.resolve_redirects(
             weburl.with_synthetic_redirects(read_docs(s, d))
         ),
         f"""
            WITH RECURSIVE redirects AS (
                SELECT {weburl.REDIR_URL_SQL.format(d="doc_id")} AS src,
                       {weburl.REDIR_URL_SQL.format(d="doc_id - 1")} AS dst
                FROM documents WHERE doc_id % {weburl.REDIR_CHAIN_MOD} <> 0
            ), walk AS (
                SELECT src, dst AS cur, 1 AS hops FROM redirects
                UNION ALL
                SELECT w.src, r.dst, w.hops + 1
                FROM walk w JOIN redirects r ON r.src = w.cur
            )
            SELECT src AS url, cur AS final_url,
                   CAST(hops AS BIGINT) AS n_hops, false AS unresolved
            FROM (SELECT src, cur, hops,
                         row_number() OVER (PARTITION BY src
                                            ORDER BY hops DESC) AS rn
                  FROM walk) WHERE rn = 1
            ORDER BY url
        """),
    # on-page rel=canonical declarations: real html parse -> chained
    # declarations resolved by the SAME pointer-doubling resolver ->
    # per-doc canonical + cluster size
    # redirect resolution: the oracle walks the formula-derived chains
    # one hop at a time with a recursive CTE (terminates — the synthetic
    # graph is acyclic by construction) and keeps each source's deepest
    # reach; the engine's pointer doubling must land on the same
    # terminal and exact hop count.  Url formula interpolates from
    # operators/weburl.py (anti-drift).
    # rel=canonical: clusters are doc_id runs of MOD consecutive ids,
    # canonical = the run's base (chains resolve to the self-declared
    # terminal); the last partial run keeps its smaller size
    Face("u_rel_canonical",
         lambda s, d: weburl.rel_canonical_clusters(
             weburl.with_synthetic_canonical_html(read_docs(s, d))
         ),
         f"""
            WITH u AS (
                SELECT doc_id,
                       'https://site' || (doc_id % 7)
                           || '.example.org/item/' || doc_id AS url,
                       doc_id - doc_id % {weburl.CANONICAL_CHAIN_MOD} AS base
                FROM documents
            )
            SELECT doc_id, url,
                   'https://site' || (base % 7)
                       || '.example.org/item/' || base AS canonical_url,
                   CAST(count(*) OVER (PARTITION BY base) AS BIGINT)
                       AS n_in_cluster,
                   doc_id = base AS is_canonical
            FROM u ORDER BY doc_id
        """),
    # the consumer: alias-group accounting — every doc keyed by the
    # terminal url its own url resolves to, min-doc_id keeper election
    # alias groups: same recursive walk, then every doc mapped to its
    # terminal (non-source docs keep their own url) and grouped
    Face("u_redirect_groups",
         lambda s, d: weburl.canonical_url_groups(
             read_docs(s, d)
         ),
         f"""
            WITH RECURSIVE redirects AS (
                SELECT {weburl.REDIR_URL_SQL.format(d="doc_id")} AS src,
                       {weburl.REDIR_URL_SQL.format(d="doc_id - 1")} AS dst
                FROM documents WHERE doc_id % {weburl.REDIR_CHAIN_MOD} <> 0
            ), walk AS (
                SELECT src, dst AS cur, 1 AS hops FROM redirects
                UNION ALL
                SELECT w.src, r.dst, w.hops + 1
                FROM walk w JOIN redirects r ON r.src = w.cur
            ), resolved AS (
                SELECT src, cur AS final_url
                FROM (SELECT src, cur,
                             row_number() OVER (PARTITION BY src
                                                ORDER BY hops DESC) AS rn
                      FROM walk) WHERE rn = 1
            ), mapped AS (
                SELECT d.doc_id,
                       coalesce(r.final_url,
                                {weburl.REDIR_URL_SQL.format(d="doc_id")})
                           AS canonical_url
                FROM documents d
                LEFT JOIN resolved r
                  ON r.src = {weburl.REDIR_URL_SQL.format(d="doc_id")}
            )
            SELECT canonical_url,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
            FROM mapped GROUP BY canonical_url ORDER BY canonical_url
        """),
    # content-level redirects: meta-refresh tags parsed from the html
    # (the regexp itself is oracle-checked — DuckDB runs the same
    # pattern over the same reconstructed pages), then chains collapse
    # through the same pointer-doubling resolver
    # meta-refresh: DuckDB rebuilds the same pages and runs the SAME
    # (?i) pattern, so the extraction regexp is itself hash-checked;
    # then the usual recursive walk (chains %4==1 -> %4==2 -> terminal)
    Face("u_meta_redirects",
         lambda s, d: weburl.resolve_redirects(
             weburl.extract_meta_redirects(
                 weburl.with_meta_refresh_html(read_docs(s, d))
             )
         ),
         f"""
            WITH RECURSIVE pages AS (
                SELECT {weburl.REDIR_URL_SQL.format(d="doc_id")} AS src,
                       '<html><head>' || CASE
                         WHEN doc_id % 4 = 1 THEN
                           '<META HTTP-EQUIV="Refresh" CONTENT="0; url='
                           || {weburl.REDIR_URL_SQL.format(d="doc_id + 1")} || '">'
                         WHEN doc_id % 4 = 2 THEN
                           '<meta http-equiv="refresh" content="5;url='
                           || {weburl.REDIR_URL_SQL.format(d="doc_id + 1")} || '">'
                         ELSE '' END
                       || '</head><body>' || substr(text, 1, 40)
                       || '</body></html>' AS html
                FROM documents
            ), redirects AS (
                SELECT src,
                       regexp_extract(html, '{weburl.META_REFRESH_RE}', 1) AS dst
                FROM pages
                WHERE regexp_extract(html, '{weburl.META_REFRESH_RE}', 1) <> ''
            ), walk AS (
                SELECT src, dst AS cur, 1 AS hops FROM redirects
                UNION ALL
                SELECT w.src, r.dst, w.hops + 1
                FROM walk w JOIN redirects r ON r.src = w.cur
            )
            SELECT src AS url, cur AS final_url,
                   CAST(hops AS BIGINT) AS n_hops, false AS unresolved
            FROM (SELECT src, cur, hops,
                         row_number() OVER (PARTITION BY src
                                            ORDER BY hops DESC) AS rn
                  FROM walk) WHERE rn = 1
            ORDER BY url
        """),
]
